"""Unit tests for the extension operator library (dedup, similarity, text,
multimodal) on small hand-built fixtures with known answers."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from mandodb_spark.operators import dedup, multimodal, similarity, text


# ------------------------------------------------------------------- dedup
def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "c b a")], "doc_id long, text string"
    )
    # byte-exact: doc 1+2 collapse; 4 is different bytes
    by_bytes = dedup.exact_dedup_groups(df, "doc_id", F.md5(F.col("text"))).collect()
    assert sorted((r.keep_id, r.n_docs) for r in by_bytes) == [(1, 2), (3, 1), (4, 1)]
    # bag-of-words: 4 joins the group (same token set)
    by_bow = dedup.exact_dedup_groups(df, "doc_id", text.bow_fingerprint(F.col("text"))).collect()
    assert sorted((r.keep_id, r.n_docs) for r in by_bow) == [(1, 3), (3, 1)]


def test_minhash_identical_docs_are_candidates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different content about spark engines and parquet files")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in pairs] == [(1, 2, 1.0)]


def test_minhash_near_duplicates_found(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    b = a + " omicron"  # high overlap
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert len(pairs) == 1 and pairs[0].jaccard >= 0.5


def test_lsh_pipelines_leave_no_persisted_rdds(spark):
    """The LSH pipelines must not leak cached tables into executor storage
    memory across invocations in a long-lived session (ADVICE r1).

    r12 amendment: minhash_lsh_pairs retains exactly TWO materialized
    tables per call — the LSH-bounded candidate PAIR set and the
    candidate-doc shingle ARRAYS (same contract as
    connected_components' label table), whose checkpoints are what keep
    the signature pipeline single-execution and the corpus scan single.
    The leak bound is therefore "at most two new RDDs per minhash call,
    zero for simhash"; unbounded growth (the old per-round / per-side
    leaks) still fails."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )
    # compare RDD id SETS, not counts: the ContextCleaner may release an
    # EARLIER test's checkpoint RDD asynchronously mid-test, which would
    # flip a count-equality assert (observed flake in the full suite)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.5).collect()
    after_minhash = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(after_minhash - before) <= 2  # pair + candidate-doc checkpoints
    sim = text.simhash_arrow(df, "doc_id", "text", 32)
    dedup.simhash_band_pairs(sim, "doc_id", n_bits=32, n_bands=4).collect()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after - after_minhash == set()  # simhash adds nothing
    # r13: jaccard_join retains exactly ONE materialized table per call
    # (the distinct shingle relation its plan previously re-executed 7x),
    # and release_minhash_checkpoints frees everything this test created
    dedup.jaccard_join(df, "doc_id", "text", 0.5).collect()
    after_jaccard = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(after_jaccard - after) <= 1
    dedup.release_minhash_checkpoints(spark)
    final = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert final & (after_jaccard - before) == set()


def test_repeated_jaccard_join_and_release_stay_flat(spark):
    """A long-lived session alternating jaccard_join with
    release_minhash_checkpoints keeps the persisted-RDD set flat, and the
    per-context registry is empty after every release."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    dedup.release_minhash_checkpoints(spark)
    base = set(sc._jsc.getPersistentRDDs().keySet())
    for _ in range(3):
        assert len(dedup.jaccard_join(df, "doc_id", "text", 0.5).collect()) == 1
        dedup.release_minhash_checkpoints(spark)
        assert sc not in dedup._RETAINED_CKPTS
        # subset, not equality: the ContextCleaner may drop an earlier
        # test's RDD asynchronously
        assert set(sc._jsc.getPersistentRDDs().keySet()) <= base


def test_memory_store_holds_single_materialized_copy(spark):
    """MemoryStore must release superseded localCheckpoint RDDs on every
    append/retention/close — only ONE materialized copy may ever live in
    executor storage memory (otherwise a long-lived memory-mode session
    leaks one full copy of the data per insert)."""
    from mandodb_spark.sources.memory_store import MemoryStore

    rdds = lambda: len(spark.sparkContext._jsc.getPersistentRDDs())  # noqa: E731
    before = rdds()
    store = MemoryStore(spark, segment_duration=100)
    for i in range(3):
        store.insert_pylist([("m", {"i": str(i)}, 1_000 + i, float(i))])
        assert rdds() == before + 1
    assert store.relation().count() == 3
    store.close()
    assert rdds() == before


def test_shingle_sets_are_distinct_positional_shingles(spark):
    df = spark.createDataFrame([(1, "abcdefghijkl")], "doc_id long, text string")
    got = sorted(r.sh for r in dedup.shingle_sets(df, "doc_id", "text", length=8, stride=4).collect())
    # positions 1..len-7 step 4 → starts at 1 and 5; no truncated tail shingle
    assert got == ["abcdefgh", "efghijkl"]


# -------------------------------------------------------------- similarity
def test_cosine_topk_exact(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    out = similarity.cosine_topk(df, "vec_id", "embedding", q, 3).collect()
    assert [r.vec_id for r in out] == [0, 1, 2]
    assert out[0].cos_sim == 1.0 and out[2].cos_sim == 0.0


def test_grouped_neardup_pairs_vectorized(spark):
    df = spark.createDataFrame(
        [
            (1, "g1", [1.0, 0.0]),
            (2, "g1", [1.0, 0.01]),
            (3, "g1", [0.0, 1.0]),
            (4, "g2", [1.0, 0.0]),  # other bucket: never paired with g1
        ],
        "vec_id long, label string, embedding array<float>",
    )
    out = similarity.grouped_neardup_pairs(df, "vec_id", "embedding", "label", 0.9).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    assert out[0].cos_sim == pytest.approx(1.0, abs=1e-3)


def test_ivf_full_probe_equals_brute_force(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 5).select(F.col("embedding").alias("qe"))
    exact = similarity.cosine_topk(df, "vec_id", "embedding", q, 10).collect()
    # probing every cell = no pruning → IVF must equal brute force exactly
    full = similarity.ivf_topk(df, "vec_id", "embedding", q, n_cells=4, n_probe=4, k=10).collect()
    assert [(r.vec_id, r.cos_sim) for r in full] == [(r.vec_id, r.cos_sim) for r in exact]
    # partial probe returns k results from a subset of cells, query's own
    # cell always probed → vec 5 itself (cos 1.0) still leads
    part = similarity.ivf_topk(df, "vec_id", "embedding", q, n_cells=4, n_probe=1, k=10).collect()
    assert part[0].vec_id == 5 and part[0].cos_sim == 1.0
    assert len(part) <= 10


def test_ivf_assign_is_deterministic_argmax(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<float>",
    )
    cent = similarity.ivf_cells(df, "vec_id", "embedding", 2)
    out = {r.vec_id: r.cell for r in similarity.ivf_assign(df, "vec_id", "embedding", cent).collect()}
    assert out == {0: 0, 1: 1, 2: 0, 3: 1}


def test_ivf_kmeans_recall_beats_stub(spark):
    """The pyspark.ml KMeans codebook (fixed seed, cosine distance) must
    deliver real ANN recall on the sf0.01 embeddings — measurably above the
    first-n-ids stub, whose centroids are arbitrary (VERDICT r1: recall
    quality gap).  Measured: kmeans ≈0.78 avg vs stub ≈0.42 on these
    queries at probe 4/16."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    km = similarity.ivf_cells_kmeans(emb, "embedding", 16)
    recall_km, recall_stub = [], []
    for qid in (100, 300, 499):
        q = emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qe"))
        exact = {r.vec_id for r in similarity.cosine_topk(emb, "vec_id", "embedding", q, 10).collect()}
        got_km = {
            r.vec_id
            for r in similarity.ivf_topk(
                emb, "vec_id", "embedding", q, 16, 4, 10, centroids=km
            ).collect()
        }
        got_stub = {
            r.vec_id
            for r in similarity.ivf_topk(emb, "vec_id", "embedding", q, 16, 4, 10).collect()
        }
        recall_km.append(len(exact & got_km) / 10)
        recall_stub.append(len(exact & got_stub) / 10)
    avg_km, avg_stub = sum(recall_km) / 3, sum(recall_stub) / 3
    assert avg_km >= 0.6
    assert avg_km > avg_stub


def test_simhash_band_pairs_hamming(spark):
    df = spark.createDataFrame(
        [(1, 0b1111000011110000), (2, 0b1111000011110001), (3, 0b0000111100001111)],
        "doc_id long, simhash long",
    )
    out = dedup.simhash_band_pairs(df, "doc_id", n_bits=16, n_bands=4, max_hamming=3).collect()
    # 1↔2 differ in 1 bit → pair; 3 is the complement of 1 (hamming 16) → no pair
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 1)]


def test_hyperplane_bucket_deterministic(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0]), (3, [-1.0, -2.0, -3.0, -4.0])],
        "id long, v array<float>",
    )
    out = df.select("id", similarity.hyperplane_bucket(F.col("v"), dim=4, n_planes=4).alias("b")).collect()
    by_id = {r.id: r.b for r in out}
    assert by_id[1] == by_id[2]           # identical vectors → same bucket
    assert by_id[1] == (15 - by_id[3])    # negated vector → complementary sign pattern
    assert 0 <= by_id[1] < 16


# -------------------------------------------------------------------- text
def test_token_and_quality_metrics(spark):
    df = spark.createDataFrame([(1, "The the a word word unique")], "id long, text string")
    row = df.select(
        text.token_count(F.col("text")).alias("n"),
        text.distinct_token_count(F.col("text")).alias("u"),
        F.round(text.stopword_ratio(F.col("text")), 4).alias("sr"),
        F.round(text.uniq_ratio(F.col("text")), 4).alias("ur"),
    ).first()
    assert row.n == 6
    assert row.u == 4  # the, a, word, unique (lowercased)
    assert row.sr == pytest.approx(0.5)   # the, the, a
    assert row.ur == pytest.approx(4 / 6, abs=1e-4)


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww vv uu")],
        "id long, text string",
    )
    out = {r.id: r.simhash for r in text.simhash16(df, "id", "text").collect()}
    assert out[1] == out[2]                  # identical text → identical hash
    assert 0 <= out[1] < (1 << 16)
    assert out[1] != out[3]                  # (overwhelmingly likely)


def test_simhash_arrow_parity(spark):
    # The Arrow-batched scale path must be bit-identical to the column-
    # expression form (same hex-digit votes) at 16, 32 and 64 bits —
    # including null text (both collapse to 0) and the signed bit-63 wrap.
    docs = [
        (1, "alpha beta gamma delta"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "zz yy xx ww vv uu"),
        (4, "repeated repeated repeated word"),
        (5, "Mixed CASE and   multiple  spaces"),
        (6, "punctuation, everywhere! truly; everywhere?"),
        (7, None),
    ]
    df = spark.createDataFrame(docs, "id long, text string")
    for n_bits in (16, 32, 64):
        expr = {r.id: r.simhash for r in text.simhash_bits(df, "id", "text", n_bits).collect()}
        arrow = {r.id: r.simhash for r in text.simhash_arrow(df, "id", "text", n_bits).collect()}
        assert expr == arrow, f"n_bits={n_bits}"
    assert expr[7] == 0
    assert any(v < 0 for v in expr.values())  # bit 63 lands in the sign bit


def test_simhash_arrow_preserves_id_type(spark):
    # Drop-in contract with simhash_bits (ADVICE r2): ids keep their
    # incoming type instead of being coerced to long.
    df = spark.createDataFrame([("doc-a", "alpha beta"), ("doc-b", "gamma delta")],
                               "doc_id string, text string")
    out = text.simhash_arrow(df, "doc_id", "text", 16)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert {r.doc_id for r in out.collect()} == {"doc-a", "doc-b"}


def test_stratified_sample_deterministic_and_shuffle_free(spark):
    from mandodb_spark.operators import sampling
    from mandodb_spark.plans import shuffle_count

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)], "doc_id long, lang string"
    )
    s1 = sampling.stratified_sample(df, "doc_id", "lang", {"en": 0.25, "de": 1.0})
    s2 = sampling.stratified_sample(df, "doc_id", "lang", {"en": 0.25, "de": 1.0})
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert ids1 == sorted(r.doc_id for r in s2.collect())  # bit-reproducible
    by_lang = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang["de"] == 200                     # rate 1.0 keeps everything
    assert 20 <= by_lang["en"] <= 80                # rate 0.25 of 200 ± hash noise
    assert shuffle_count(s1) == 0                   # pure scan-side predicate
    # default rate drops unknown strata entirely
    s3 = sampling.stratified_sample(df, "doc_id", "lang", {"fr": 1.0})
    assert s3.count() == 0


def test_tfidf_top_terms_ranking(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry cherry cherry"),
            (3, "apple banana cherry"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    top = {r.doc_id: (r.term, r.tf, r.df) for r in out}
    # the doc-specific high-tf term wins; 'banana' (df=3, idf=1) never beats it
    assert top[1] == ("apple", 2, 2)
    assert top[2] == ("cherry", 3, 2)
    # doc 3: all tf=1 → highest idf wins, ties broken alphabetically
    assert top[3][0] in ("apple", "cherry")


def test_promql_deriv_and_predict_linear_exact_on_line(spark):
    from mandodb_spark.functions import promql
    from mandodb_spark.model import canonicalize
    from mandodb_spark import ROW_SCHEMA

    t0 = 1_700_000_000
    # value = 2*t/60 + 5 → slope 1/30 per second
    rows = [("g", {"n": "a"}, t0 + i * 60, 2.0 * i + 5.0) for i in range(10)]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    d = promql.deriv(rel, t0, t0 + 1000).collect()
    assert len(d) == 1 and d[0].value == pytest.approx(2.0 / 60.0, rel=1e-9)
    p = promql.predict_linear(rel, t0, t0 + 540, horizon=60).collect()
    # at range-relative x=600: 600/30 + 5 = 25
    assert len(p) == 1 and p[0].value == pytest.approx(25.0, rel=1e-9)


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [(1, "der hund ist da"), (2, "le chat est la"), (3, "just english words")],
        "id long, text string",
    )
    out = {r.id: r.g for r in df.select("id", text.lang_guess(F.col("text")).alias("g")).collect()}
    assert out == {1: "de", 2: "fr", 3: "en"}


# -------------------------------------------------------------- multimodal
def test_multimodal_feature_extraction_matches_python(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "spark engine")], "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in multimodal.extract_features(
            multimodal.with_binary_payload(df, "text"), "doc_id", "payload"
        ).collect()
    }
    for doc_id, s in [(1, "hello world"), (2, "spark engine")]:
        md5, w, h = multimodal.fake_decode_meta(s.encode())
        assert out[doc_id].content_md5 == md5 == hashlib.md5(s.encode()).hexdigest()
        assert out[doc_id].byte_len == len(s)
        assert (out[doc_id].fake_width, out[doc_id].fake_height) == (w, h)


def test_decode_image_unknown_format_raises():
    # formats beyond the stdlib PPM/PNG/JPEG decoders still fail loudly at
    # the seam where PIL/libvips would plug in
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"GIF87a gif-ish payload")


def _encode_ppm(w, h, pixels):
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + pixels


def _encode_png(w, h, ch, pixels, filters):
    """Independent PNG encoder (test-side): one filter byte per row from
    ``filters``, exercising the decoder's unfiltering paths."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = w * ch

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        line = bytearray(pixels[y * stride:(y + 1) * stride])
        f = filters[y % len(filters)]
        enc = bytearray(stride)
        for x in range(stride):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (line[x] - pred) & 0xFF
        raw += bytes([f]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_decode_ppm_roundtrip():
    pixels = bytes(range(4 * 3 * 3 % 256)) if False else bytes((i * 7) % 256 for i in range(4 * 3 * 3))
    w, h, ch, got = multimodal.decode_image(_encode_ppm(4, 3, pixels))
    assert (w, h, ch) == (4, 3, 3) and got == pixels


def test_decode_png_all_filters_roundtrip():
    import random

    rng = random.Random(7)
    for ch in (1, 2, 3, 4):
        w, h = 9, 6
        pixels = bytes(rng.randrange(256) for _ in range(w * h * ch))
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            payload = _encode_png(w, h, ch, pixels, filters)
            gw, gh, gch, got = multimodal.decode_image(payload)
            assert (gw, gh, gch) == (w, h, ch)
            assert got == pixels, f"ch={ch} filters={filters}"


def test_image_stats_real_decode_through_spark(spark):
    png = _encode_png(5, 4, 3, bytes((i * 11) % 256 for i in range(5 * 4 * 3)), [0, 4])
    ppm = _encode_ppm(2, 2, bytes(range(12)))
    rows = [(1, bytearray(png)), (2, bytearray(ppm)), (3, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in multimodal.image_stats(df, "doc_id", "payload").collect()}
    assert (out[1].width, out[1].height, out[1].channels) == (5, 4, 3)
    assert (out[2].width, out[2].height, out[2].channels) == (2, 2, 3)
    assert out[2].mean_luma == pytest.approx(sum(range(12)) / 12)
    assert out[1].decode_error is None and out[2].decode_error is None
    # poisoned asset degrades to an error row, not a job failure
    assert out[3].width is None and "PPM" in out[3].decode_error


def test_sample_frames_fanout(spark):
    df = spark.createDataFrame([(1, "x" * 250), (2, "y")], "doc_id long, text string")
    frames = multimodal.sample_frames(
        multimodal.with_binary_payload(df, "text"), "doc_id", "payload"
    ).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    # 250 bytes → 3 frames; 1 byte → 1 frame; indices dense from 0
    assert sorted(per_doc[1]) == [0, 1, 2] and per_doc[2] == [0]
    assert len({r.frame_md5 for r in frames}) == 4  # all frame hashes distinct


def _encode_jpeg(planes, quality_q=16, subsample_420=False):
    """Minimal baseline-DCT JPEG encoder for round-trip testing: grayscale
    (1 plane), YCbCr 4:4:4 (3 full-size planes), or YCbCr 4:2:0 (full-size
    luma + half-size chroma, luma dims multiples of 16).  Flat quant
    table, one shared canonical huffman table pair written via DHT — the
    decoder under test reads its tables from the stream, so the
    round-trip is self-consistent regardless of table choice."""
    import struct

    import numpy as np

    from mandodb_spark.operators.multimodal import _ZIGZAG, _dct_basis

    h, w = planes[0].shape
    ncomp = len(planes)
    # canonical huffman table over symbols 0x00..0xFF: all 8-bit-ish codes
    # won't fit one length; use lengths: 256 symbols at 9 bits won't fit
    # either (max 512 — fine).  counts: 256 codes of length 9.
    sym_order = list(range(256))
    counts = [0] * 16
    counts[8] = 255  # 255 codes of length 9 (index 8)
    counts[9] = 1
    codes = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[sym_order[i]] = (length, code)
            i += 1
            code += 1
        code <<= 1

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    q = bytes([quality_q] * 64)
    seg(0xDB, bytes([0]) + q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        hv = 0x22 if (subsample_420 and c == 0) else 0x11
        sof += bytes([c + 1, hv, 0])
    seg(0xC0, sof)
    dht_body = b""
    for tc in (0, 1):
        dht_body += bytes([tc << 4]) + bytes(counts) + bytes(sym_order)
    seg(0xC4, dht_body)
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    basis = _dct_basis()
    qmat = np.zeros(64)
    qmat[_ZIGZAG] = np.frombuffer(q, dtype=np.uint8)
    qmat = qmat.reshape(8, 8)
    bitbuf, nbits = 0, 0
    data = bytearray()

    def put(length, value):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << length) | (value & ((1 << length) - 1))
        nbits += length
        while nbits >= 8:
            nbits -= 8
            b = (bitbuf >> nbits) & 0xFF
            data.append(b)
            if b == 0xFF:
                data.append(0x00)

    def put_coeff(v):
        t = 0 if v == 0 else int(v).bit_length() if v > 0 else int(-v).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def encode_block(ci, plane, by, bx):
        block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(float) - 128
        coeffs = np.round((basis @ block @ basis.T) / qmat).astype(int)
        zz = coeffs.flatten()[_ZIGZAG]
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t, bitsv = put_coeff(diff)
        cl, cc = codes[t]
        put(cl, cc)
        put(t, bitsv)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                cl, cc = codes[0xF0]
                put(cl, cc)
                run -= 16
            t, bitsv = put_coeff(v)
            cl, cc = codes[(run << 4) | t]
            put(cl, cc)
            put(t, bitsv)
            run = 0
        if run:
            cl, cc = codes[0x00]
            put(cl, cc)

    pred = [0] * ncomp
    if subsample_420:
        for my in range(h // 16):
            for mx in range(w // 16):
                for by, bx in ((0, 0), (0, 1), (1, 0), (1, 1)):
                    encode_block(0, planes[0], my * 2 + by, mx * 2 + bx)
                encode_block(1, planes[1], my, mx)
                encode_block(2, planes[2], my, mx)
    else:
        for by in range(h // 8):
            for bx in range(w // 8):
                for ci, plane in enumerate(planes):
                    encode_block(ci, plane, by, bx)
    if nbits:
        put(8 - nbits, 0xFF)  # pad with 1s
    out.extend(data)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _encode_jpeg_progressive(planes, quality_q=16, subsample_420=False,
                             al_dc=1, al_ac=1):
    """Minimal progressive-DCT (SOF2) JPEG encoder for round-trip testing,
    bit-faithful to libjpeg's jcphuff conventions (the de-facto standard
    the decoder matches): scan script = interleaved DC first (Al=al_dc) →
    DC refine → per-component AC first in two spectral bands (1-5, 6-63,
    Al=al_ac) → per-component AC refine for both bands (Ah=al_ac, Al=0).
    Same flat quant table / shared canonical huffman table as
    _encode_jpeg, so the coefficients are IDENTICAL to the baseline
    encoding of the same planes — which is exactly what the round-trip
    test exploits (progressive decode must equal baseline decode
    pixel-for-pixel)."""
    import struct

    import numpy as np

    from mandodb_spark.operators.multimodal import _ZIGZAG, _dct_basis

    h, w = planes[0].shape
    ncomp = len(planes)
    sym_order = list(range(256))
    counts = [0] * 16
    counts[8] = 255
    counts[9] = 1
    codes = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[sym_order[i]] = (length, code)
            i += 1
            code += 1
        code <<= 1

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    q = bytes([quality_q] * 64)
    seg(0xDB, bytes([0]) + q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        hv = 0x22 if (subsample_420 and c == 0) else 0x11
        sof += bytes([c + 1, hv, 0])
    seg(0xC2, sof)
    dht_body = b""
    for tc in (0, 1):
        dht_body += bytes([tc << 4]) + bytes(counts) + bytes(sym_order)
    seg(0xC4, dht_body)

    # quantized zigzag coefficients per component, block-raster order
    basis = _dct_basis()
    qmat = np.zeros(64)
    qmat[_ZIGZAG] = np.frombuffer(q, dtype=np.uint8)
    qmat = qmat.reshape(8, 8)
    zz_all = []
    for plane in planes:
        ph, pw = plane.shape
        blocks = np.zeros((ph // 8, pw // 8, 64), dtype=int)
        for by in range(ph // 8):
            for bx in range(pw // 8):
                block = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8].astype(float) - 128
                coeffs = np.round((basis @ block @ basis.T) / qmat).astype(int)
                blocks[by, bx] = coeffs.flatten()[_ZIGZAG]
        zz_all.append(blocks)

    class _Bits:
        def __init__(self):
            self.data = bytearray()
            self.buf = 0
            self.n = 0

        def put(self, length, value):
            if length == 0:
                return
            self.buf = (self.buf << length) | (value & ((1 << length) - 1))
            self.n += length
            while self.n >= 8:
                self.n -= 8
                b = (self.buf >> self.n) & 0xFF
                self.data.append(b)
                if b == 0xFF:
                    self.data.append(0x00)

        def flush(self):
            if self.n:
                self.put(8 - self.n, 0xFF)

    def hsym(sym):
        cl, cc = codes[sym]
        bits.put(cl, cc)

    def vli(v):
        t = 0 if v == 0 else (v if v > 0 else -v).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def sos_header(comps_in_scan, ss, se, ah, al):
        # td/ta: table 0 for both classes (only table id 0 written)
        body = bytes([len(comps_in_scan)])
        for c in comps_in_scan:
            body += bytes([c + 1, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, body)

    # ---- scan 1: DC first, interleaved, Al=al_dc
    sos_header(list(range(ncomp)), 0, 0, 0, al_dc)
    bits = _Bits()
    pred = [0] * ncomp
    if subsample_420:
        mcus_y, mcus_x = h // 16, w // 16
        order = [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (2, 0, 0)]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, by, bx in order:
                    f = 2 if ci == 0 else 1
                    dc = int(zz_all[ci][my * f + by, mx * f + bx, 0]) >> al_dc
                    t, bv = vli(dc - pred[ci])
                    pred[ci] = dc
                    hsym(t)
                    bits.put(t, bv)
    else:
        for by in range(h // 8):
            for bx in range(w // 8):
                for ci in range(ncomp):
                    dc = int(zz_all[ci][by, bx, 0]) >> al_dc
                    t, bv = vli(dc - pred[ci])
                    pred[ci] = dc
                    hsym(t)
                    bits.put(t, bv)
    bits.flush()
    out.extend(bits.data)

    # ---- scan 2: DC refine (Ah=al_dc, Al=0): one raw bit per block
    for bit_pos in range(al_dc - 1, -1, -1):
        sos_header(list(range(ncomp)), 0, 0, bit_pos + 1, bit_pos)
        bits = _Bits()
        if subsample_420:
            for my in range(h // 16):
                for mx in range(w // 16):
                    for ci, by, bx in order:
                        f = 2 if ci == 0 else 1
                        bits.put(1, (int(zz_all[ci][my * f + by, mx * f + bx, 0]) >> bit_pos) & 1)
        else:
            for by in range(h // 8):
                for bx in range(w // 8):
                    for ci in range(ncomp):
                        bits.put(1, (int(zz_all[ci][by, bx, 0]) >> bit_pos) & 1)
        bits.flush()
        out.extend(bits.data)

    # ---- AC scans, per component, two spectral bands
    def ac_first(ci, ss, se, al):
        sos_header([ci], ss, se, 0, al)
        nonlocal bits
        bits = _Bits()
        eobrun = 0

        def emit_eobrun():
            nonlocal eobrun
            if eobrun > 0:
                n = eobrun.bit_length() - 1
                hsym(n << 4)
                bits.put(n, eobrun - (1 << n))
                eobrun = 0

        bh, bw, _ = zz_all[ci].shape
        for by in range(bh):
            for bx in range(bw):
                zz = zz_all[ci][by, bx]
                r = 0
                for k in range(ss, se + 1):
                    v = int(zz[k])
                    t = (abs(v) >> al)
                    if t == 0:
                        r += 1
                        continue
                    emit_eobrun()
                    while r > 15:
                        hsym(0xF0)
                        r -= 16
                    sv = t if v >= 0 else -t
                    s, bv = vli(sv)
                    hsym((r << 4) | s)
                    bits.put(s, bv)
                    r = 0
                if r > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        emit_eobrun()
        emit_eobrun()
        bits.flush()
        out.extend(bits.data)

    def ac_refine(ci, ss, se, al):
        sos_header([ci], ss, se, al + 1, al)
        nonlocal bits
        bits = _Bits()
        eobrun = 0
        be: list[int] = []  # correction bits buffered across EOB runs

        def emit_eobrun():
            nonlocal eobrun
            if eobrun > 0:
                n = eobrun.bit_length() - 1
                hsym(n << 4)
                bits.put(n, eobrun - (1 << n))
                for b in be:
                    bits.put(1, b)
                be.clear()
                eobrun = 0

        bh, bw, _ = zz_all[ci].shape
        for by in range(bh):
            for bx in range(bw):
                zz = zz_all[ci][by, bx]
                absval = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
                eob = 0  # index AFTER last newly-significant coefficient
                for idx, t in enumerate(absval):
                    if t == 1:
                        eob = idx + 1
                r = 0
                br: list[int] = []
                for idx, t in enumerate(absval):
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and idx < eob:
                        emit_eobrun()
                        hsym(0xF0)
                        r -= 16
                        for b in br:
                            bits.put(1, b)
                        br = []
                    if t > 1:
                        br.append(t & 1)
                        continue
                    emit_eobrun()
                    hsym((r << 4) | 1)
                    bits.put(1, 1 if int(zz[ss + idx]) >= 0 else 0)
                    for b in br:
                        bits.put(1, b)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    be.extend(br)
                    if eobrun == 0x7FFF:
                        emit_eobrun()
        emit_eobrun()
        bits.flush()
        out.extend(bits.data)

    for ci in range(ncomp):
        ac_first(ci, 1, 5, al_ac)
        ac_first(ci, 6, 63, al_ac)
    for bit_pos in range(al_ac - 1, -1, -1):
        for ci in range(ncomp):
            ac_refine(ci, 1, 5, bit_pos)
            ac_refine(ci, 6, 63, bit_pos)

    out.extend(b"\xff\xd9")
    return bytes(out)


def test_jpeg_progressive_equals_baseline_decode():
    """Progressive (SOF2) decode must reconstruct the EXACT same pixels
    as baseline decode of the same quantized coefficients — the scan
    script splits the spectrum across 8 scans with successive
    approximation, so any EOB-run / refinement-bit mishandling shifts
    coefficients and breaks pixel equality.  Grayscale + 4:4:4 color +
    deeper 2-bit successive approximation."""
    import numpy as np

    from mandodb_spark.operators.multimodal import _decode_jpeg

    rng = np.random.RandomState(11)
    img = (rng.randint(0, 200, size=(24, 16)).astype(float)
           + 2 * np.indices((24, 16)).sum(0)).clip(0, 255)
    base = _decode_jpeg(_encode_jpeg([img]))
    prog = _decode_jpeg(_encode_jpeg_progressive([img]))
    assert base == prog  # (w, h, ch, pixel bytes) — bit identical

    y = (rng.randint(30, 220, size=(16, 16)).astype(float))
    cb = np.full((16, 16), 170.0)
    cr = np.full((16, 16), 90.0)
    base = _decode_jpeg(_encode_jpeg([y, cb, cr]))
    prog = _decode_jpeg(_encode_jpeg_progressive([y, cb, cr]))
    assert base == prog

    # 2-bit successive approximation: two refinement passes per band
    prog2 = _decode_jpeg(_encode_jpeg_progressive([y, cb, cr], al_dc=2, al_ac=2))
    assert base == prog2


def test_jpeg_progressive_420_and_sparse_blocks():
    """4:2:0 progressive (interleaved DC MCU order + per-component AC
    grids of different sizes) and a sparse image (long EOB runs spanning
    many blocks — the G.1.2.2 path where a single EOBn symbol covers
    dozens of blocks)."""
    import numpy as np

    from mandodb_spark.operators.multimodal import _decode_jpeg

    yy, xx = np.indices((16, 32))
    y = (48 + 2 * (yy + xx)).astype(float)
    cb = np.full((8, 16), 160.0)
    cr = np.full((8, 16), 96.0)
    base = _decode_jpeg(_encode_jpeg([y, cb, cr], subsample_420=True))
    prog = _decode_jpeg(_encode_jpeg_progressive([y, cb, cr], subsample_420=True))
    assert base == prog

    # nearly-flat 64x64 grayscale: every AC band is one long EOB run
    flat = np.full((64, 64), 130.0)
    flat[32, 32] = 180.0  # one impulse so SOME AC coefficient exists
    base = _decode_jpeg(_encode_jpeg([flat]))
    prog = _decode_jpeg(_encode_jpeg_progressive([flat]))
    assert base == prog


def test_jpeg_baseline_roundtrip_grayscale():
    """Encode a known grayscale image with the minimal baseline encoder,
    decode with _decode_jpeg, assert pixels match within quantization
    error (flat q=16 → per-pixel error well under 16)."""
    import numpy as np

    from mandodb_spark.operators.multimodal import _decode_jpeg

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    # smooth it so quantization error stays small (random noise has huge
    # high-frequency coefficients)
    img = (img.astype(float) + 3 * np.indices(img.shape).sum(0)).clip(0, 255)
    w, h, ch, pix = _decode_jpeg(_encode_jpeg([img]))
    assert (w, h, ch) == (24, 16, 1)
    got = np.frombuffer(pix, dtype=np.uint8).reshape(16, 24).astype(float)
    assert np.abs(got - img).max() <= 24  # bounded by the flat quant table


def test_jpeg_baseline_roundtrip_color_444():
    """3-component 4:4:4 round-trip: solid YCbCr planes decode to the
    exact RGB the JFIF matrix prescribes."""
    import numpy as np

    from mandodb_spark.operators.multimodal import _decode_jpeg

    y = np.full((8, 8), 128.0)
    cb = np.full((8, 8), 200.0)
    cr = np.full((8, 8), 80.0)
    w, h, ch, pix = _decode_jpeg(_encode_jpeg([y, cb, cr]))
    assert (w, h, ch) == (8, 8, 3)
    got = np.frombuffer(pix, dtype=np.uint8).reshape(8, 8, 3).astype(float)
    exp_r = 128 + 1.402 * (80 - 128)
    exp_g = 128 - 0.344136 * (200 - 128) - 0.714136 * (80 - 128)
    exp_b = 128 + 1.772 * (200 - 128)
    assert np.abs(got[..., 0] - exp_r).max() <= 12
    assert np.abs(got[..., 1] - exp_g).max() <= 12
    assert np.abs(got[..., 2] - exp_b).max() <= 12


def test_jpeg_baseline_roundtrip_420_subsampled():
    """4:2:0 round-trip: 16x32 luma gradient + half-res chroma; exercises
    the 4-luma-blocks-per-MCU interleave and nearest-neighbor chroma
    upsample. Compare in YCbCr space (invert the decoder's RGB matrix) so
    the bound reflects quantization error only."""
    import numpy as np

    from mandodb_spark.operators.multimodal import _decode_jpeg

    yy, xx = np.indices((16, 32))
    # keep luma in [48, 140] so no RGB channel clips at these chroma
    # values (clipped RGB would contaminate the inverted-matrix compare)
    y = (48 + 2 * (yy + xx)).astype(float)
    cb = np.full((8, 16), 160.0)
    cr = np.full((8, 16), 96.0)
    w, h, ch, pix = _decode_jpeg(_encode_jpeg([y, cb, cr], subsample_420=True))
    assert (w, h, ch) == (32, 16, 3)
    rgb = np.frombuffer(pix, dtype=np.uint8).reshape(16, 32, 3).astype(float)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y_back = 0.299 * r + 0.587 * g + 0.114 * b
    cb_back = (b - y_back) / 1.772 + 128
    cr_back = (r - y_back) / 1.402 + 128
    assert np.abs(y_back - y).max() <= 24
    assert np.abs(cb_back - 160).max() <= 12
    assert np.abs(cr_back - 96).max() <= 12


def test_jpeg_unsupported_variants_raise():
    import pytest as _pytest

    from mandodb_spark.operators.multimodal import _decode_jpeg

    with _pytest.raises(ValueError, match="SOI"):
        _decode_jpeg(b"not a jpeg")
    import struct

    # SOF2 (progressive) now decodes for real — a truncated stream with
    # no SOS scan must still fail loudly, not return garbage pixels
    prog = bytearray(b"\xff\xd8")
    body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    prog.extend(bytes([0xFF, 0xC2]) + struct.pack(">H", len(body) + 2) + body)
    with _pytest.raises(ValueError, match="no SOS"):
        _decode_jpeg(bytes(prog))
    # arithmetic-coded (SOF9) still raises at the seam
    arith = bytearray(b"\xff\xd8")
    arith.extend(bytes([0xFF, 0xC9]) + struct.pack(">H", len(body) + 2) + body)
    with _pytest.raises(NotImplementedError, match="baseline"):
        _decode_jpeg(bytes(arith))


def _encode_avi(width, height, us_per_frame, frame_payloads, keyframes=None):
    """Minimal RIFF/AVI: hdrl with a real avih, movi with 00dc chunks;
    optional idx1 index flagging ``keyframes`` (list of frame indices)
    with AVIIF_KEYFRAME."""
    import struct

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")

    def lst(list_type, body):
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<IIIIIIIIII", us_per_frame, 0, 0, 0, len(frame_payloads), 0, 1, 0, width, height
    ) + b"\x00" * 16
    hdrl = lst(b"hdrl", chunk(b"avih", avih))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frame_payloads))
    idx1 = b""
    if keyframes is not None:
        entries = b"".join(
            b"00dc"
            + struct.pack("<III", 0x10 if i in keyframes else 0, 0, len(f))
            for i, f in enumerate(frame_payloads)
        )
        idx1 = chunk(b"idx1", entries)
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def test_avi_container_real_frame_ranges(spark):
    """AVI payloads take the REAL container path: frame hashes are over
    the actual 00dc chunk bytes at their parsed offsets (including an
    odd-sized chunk, exercising RIFF word alignment), video_stats reports
    the avih metadata, and a >max_frames video samples an even stride of
    true frame indices.  Non-AVI garbage degrades to an error row."""
    import hashlib as _hl

    frames3 = [b"frame-zero", b"odd-size!", b"frame-two!"]  # 9 bytes = odd
    avi = _encode_avi(320, 240, 40_000, frames3)  # 25 fps
    many = _encode_avi(64, 48, 100_000, [bytes([i]) * 4 for i in range(20)])
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(many)), (3, bytearray(b"not a riff"))],
        "doc_id long, payload binary",
    )
    out = {}
    for r in multimodal.sample_frames(df, "doc_id", "payload").collect():
        out.setdefault(r.doc_id, {})[r.frame_idx] = r.frame_md5
    assert out[1] == {i: _hl.md5(f).hexdigest() for i, f in enumerate(frames3)}
    # 20 frames, cap 8 → ceil stride 3 → indices 0,3,...,18 (7 frames)
    assert sorted(out[2]) == [0, 3, 6, 9, 12, 15, 18]
    assert out[2][3] == _hl.md5(bytes([3]) * 4).hexdigest()
    # doc 3 is non-AVI → stub path (1 frame, hash of the md5-derived seed)
    assert list(out[3]) == [0]

    stats = {r.doc_id: r for r in multimodal.video_stats(df, "doc_id", "payload").collect()}
    s1 = stats[1]
    assert (s1.width, s1.height, s1.n_frames) == (320, 240, 3)
    assert s1.fps == pytest.approx(25.0)
    assert s1.duration_s == pytest.approx(0.12)
    assert s1.decode_error is None
    assert stats[3].width is None and "AVI" in stats[3].decode_error


def test_winnow_forms_agree_and_detect_overlap(spark):
    """Column-expression and Arrow-batched winnowing produce identical
    fingerprint sets; overlapping docs share fingerprints (the winnowing
    guarantee: any match of length >= k+w-1 shares one)."""
    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [(1, shared + " alpha beta"), (2, "prefix words here " + shared), (3, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll")],
        "doc_id long, text string",
    )
    expr = df.select(
        "doc_id", text.winnow_fingerprints(F.col("text")).alias("fps")
    ).collect()
    fast = text.winnow_fingerprint_stats(df, "doc_id", "text").collect()
    by_expr = {r.doc_id: set(r.fps) for r in expr}
    for r in fast:
        assert (r.n_fps, r.min_fp, r.max_fp) == (
            len(by_expr[r.doc_id]), min(by_expr[r.doc_id]), max(by_expr[r.doc_id])
        )
    assert by_expr[1] & by_expr[2]          # shared substring → shared fingerprints
    assert not (by_expr[1] & by_expr[3])    # disjoint content → disjoint (whp)


def test_resize_dims_arithmetic():
    assert multimodal.resize_dims(500, 200) == (256, 102)   # downscale long edge
    assert multimodal.resize_dims(200, 100) == (200, 100)   # never upscale
    assert multimodal.resize_dims(0, 0) == (0, 0)           # degenerate guarded
    assert multimodal.resize_dims(10000, 1) == (256, 1)     # floor never hits 0


def test_bucketed_interval_join_equals_naive(spark):
    from mandodb_spark.operators.temporal import bucketed_interval_join

    iv = spark.createDataFrame(
        [(1, 100, 200), (2, 150, 160), (3, 900, 1000)], "iv_id long, ws long, we long"
    )
    pts = spark.createDataFrame(
        [(10, 99), (11, 100), (12, 155), (13, 200), (14, 201), (15, 950)],
        "pt_id long, ts long",
    )
    got = sorted(
        (r.iv_id, r.pt_id)
        for r in bucketed_interval_join(iv, pts, "ws", "we", "ts", bucket_width=64).collect()
    )
    naive = sorted(
        (r.iv_id, r.pt_id)
        for r in iv.join(pts, F.col("ts").between(F.col("ws"), F.col("we"))).collect()
    )
    assert got == naive == [(1, 11), (1, 12), (1, 13), (2, 12), (3, 15)]


def test_cms_estimates_are_upper_bounds(spark):
    from mandodb_spark.operators import sketch

    keys = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 10 + [("c",)] * 1, "k string"
    )
    cms = sketch.cms_build(keys, "k", depth=4, width=64)
    qs = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    est = {r.k: r.est_count for r in sketch.cms_estimate(cms, qs, "k", depth=4, width=64).collect()}
    assert est["a"] >= 50 and est["b"] >= 10 and est["c"] >= 1  # never undercounts
    assert est["a"] <= 61  # bounded by total stream length
    # sketch size is bounded by d*w cells regardless of stream size
    assert cms.count() <= 4 * 64


def test_cms_unseen_key_estimates_zero_not_inflated(spark):
    """A key absent from the build data must report the true CMS minimum —
    0 when any of its d cells is empty — and must always yield a row.
    (ADVICE r1: the old inner join excluded empty cells from the min.)"""
    from mandodb_spark.operators import sketch

    keys = spark.createDataFrame([("a",)] * 5, "k string")
    # width large enough that 'never_seen_key_xyz' almost surely misses
    # every occupied cell in at least one of the 4 rows
    cms = sketch.cms_build(keys, "k", depth=4, width=4096)
    qs = spark.createDataFrame([("a",), ("never_seen_key_xyz",)], "k string")
    est = {r.k: r.est_count for r in sketch.cms_estimate(cms, qs, "k", depth=4, width=4096).collect()}
    assert set(est) == {"a", "never_seen_key_xyz"}  # every probe yields a row
    assert est["a"] == 5
    assert est["never_seen_key_xyz"] == 0


def test_repetition_stats_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # heavy bigram repetition
            (2, "u v w x y z"),          # all distinct
            (3, "solo"),                 # single word: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.repetition_stats(df, "doc_id", "text").collect()}
    assert out[1].n_words == 6 and out[1].n_distinct_words == 2
    assert out[1].dup_word_frac == pytest.approx(1 - 2 / 6, abs=1e-4)
    # bigrams of doc1: [a b, b a, a b, b a, a b] -> top 'a b' x3 of 5
    assert out[1].top_bigram_count == 3
    assert out[1].top_bigram_frac == pytest.approx(0.6)
    assert out[2].dup_word_frac == 0.0 and out[2].top_bigram_count == 1
    assert out[3].n_words == 1 and out[3].top_bigram_count == 0 and out[3].top_bigram_frac == 0.0


def test_ngram_contamination_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a sleeping cat"),  # shares leading 5-grams
            (2, "completely unrelated text with different words entirely"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dedup.ngram_contamination(ev, bench, "doc_id", "text", n=5, threshold=0.2).collect()}
    # doc1: 5 distinct 5-grams, first two ("the quick brown fox jumps",
    # "quick brown fox jumps over") occur in bench
    assert out[1].n_ngrams == 5 and out[1].n_matched == 2
    assert out[1].contamination_frac == pytest.approx(0.4)
    assert out[1].contaminated is True
    assert out[2].n_matched == 0 and out[2].contaminated is False


def test_emb_norm_fold_matches_numpy(spark):
    import numpy as np
    vecs = [(i, [float(i), 3.0, 4.0]) for i in range(3)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = {r.vec_id: r.norm for r in df.select("vec_id", F.sqrt(sq).alias("norm")).collect()}
    for i, v in vecs:
        assert out[i] == pytest.approx(float(np.linalg.norm(v)))


def test_int8_quantize_roundtrip(spark):
    import numpy as np
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = df.select("vec_id", similarity.int8_quantize(F.col("embedding")).alias("q"),
                  similarity.int8_reconstruction_error(F.col("embedding")).alias("err")).collect()
    by_id = {r.vec_id: r for r in q}
    assert by_id[1].q.scale == pytest.approx(1.0 / 127)
    assert by_id[1].q.codes == [127, -64, 32, 0]   # round(−63.5)→−64 away from zero
    # reconstruction error small and exactly computed
    x = np.array([1.0, -0.5, 0.25, 0.0])
    recon = np.array([127, -64, 32, 0]) * (1.0 / 127)
    expected = np.linalg.norm(x - recon) / np.linalg.norm(x)
    assert by_id[1].err == pytest.approx(expected, rel=1e-9)
    # zero vector: scale 1.0, all-zero codes, zero error
    assert by_id[2].q.scale == 1.0 and by_id[2].q.codes == [0, 0, 0, 0] and by_id[2].err == 0.0


def test_chunk_plan_covers_payload_with_overlap(spark):
    df = spark.createDataFrame([(1, "x" * 1000), (2, "y" * 100), (3, "z" * 256)],
                               "doc_id long, text string")
    payloads = multimodal.with_binary_payload(df, "text")
    out = multimodal.chunk_plan(payloads, "doc_id", "payload", chunk_bytes=256, overlap=64)
    rows = sorted((r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_len) for r in out.collect())
    by_doc = {}
    for d, i, s, ln in rows:
        by_doc.setdefault(d, []).append((i, s, ln))
    # doc 1 (1000 B): starts every 192 B while start < 1000-64
    assert [s for _, s, _ in by_doc[1]] == [0, 192, 384, 576, 768]
    assert by_doc[1][-1] == (4, 768, 232)          # tail clamped
    # full coverage with overlap: next start <= prev end
    for (_, s1, l1), (_, s2, _) in zip(by_doc[1], by_doc[1][1:]):
        assert s2 <= s1 + l1
    # short payloads produce exactly one chunk of payload length
    assert by_doc[2] == [(0, 0, 100)]
    assert by_doc[3] == [(0, 0, 256)]


def test_hll_estimate_within_error_bound(spark):
    """The rows-only HLL query has no DuckDB oracle (sketch estimates are
    engine-specific), so pin its accuracy here: approx_count_distinct with
    default rsd=0.05 must land within 10% of the exact cardinality on the
    real testdata."""
    from mandodb_spark.workloads.events_q import events_base

    ev = events_base(spark, "/root/testdata/sf0.01")
    got = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert len(got) > 0
    for r in got:
        assert abs(r.approx - r.exact) / r.exact <= 0.10, (r.event_type, r.approx, r.exact)


def test_knn_join_batch_topk(spark):
    """knn_join: every query finds itself at rank 1 (cos 1.0) when it is
    in the corpus and its probe includes its own cell; ranks are dense,
    per-query, and capped at k."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin(20, 21, 22)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.knn_join(
        df, "vec_id", "embedding", queries, "qid", "qe", k=4, n_cells=8, n_probe=8
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.qid, []).append(r)
    assert set(per_q) == {20, 21, 22}
    for qid, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4]
        assert rs[0].vec_id == qid and rs[0].cos_sim == 1.0  # self at rank 1
        assert all(rs[i].cos_sim >= rs[i + 1].cos_sim for i in range(3))


def test_token_entropy_known_values(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_tokens, r.token_entropy) for r in
           text.token_entropy(df, "doc_id", "text").collect()}
    assert out[1] == (4, 0.0)                       # single token: zero entropy
    assert out[2] == (4, 2.0)                       # uniform over 4: log2(4)
    assert out[3] == (4, pytest.approx(1.0))        # two tokens, 50/50


def test_knn_join_matches_single_query_ivf_topk(spark):
    """Batch knn_join must give each query exactly what the single-query
    ivf_topk path gives it (same stub codebook, probe, cosine, ties) —
    the batch form is an orchestration change, not a semantics change."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = [100, 300, 499]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    batch = similarity.knn_join(
        emb, "vec_id", "embedding", queries, "qid", "qe", k=10, n_cells=16, n_probe=4
    ).collect()
    per_q = {}
    for r in batch:
        per_q.setdefault(r.qid, set()).add((r.vec_id, r.cos_sim))
    for qid in qids:
        q = emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qe"))
        single = {
            (r.vec_id, r.cos_sim)
            for r in similarity.ivf_topk(emb, "vec_id", "embedding", q, 16, 4, 10).collect()
        }
        assert per_q[qid] == single, f"qid={qid}"


def test_knn_join_kmeans_recall(spark):
    """knn_join with the k-means codebook delivers the same real recall as
    the single-query IVF path (>= 0.6 avg vs exact brute force)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    km = similarity.ivf_cells_kmeans(emb, "embedding", 16)
    qids = [100, 300, 499]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    batch = similarity.knn_join(
        emb, "vec_id", "embedding", queries, "qid", "qe",
        k=10, n_cells=16, n_probe=4, centroids=km,
    ).collect()
    per_q = {}
    for r in batch:
        per_q.setdefault(r.qid, set()).add(r.vec_id)
    recalls = []
    for qid in qids:
        q = emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qe"))
        exact = {r.vec_id for r in similarity.cosine_topk(emb, "vec_id", "embedding", q, 10).collect()}
        recalls.append(len(exact & per_q[qid]) / 10)
    assert sum(recalls) / len(recalls) >= 0.6


def test_resize_pixels_nearest_neighbor():
    # 2x2 RGB checkerboard upscaled 2x: each source pixel becomes a 2x2 block
    px = bytes([255, 0, 0,  0, 255, 0,
                0, 0, 255,  255, 255, 255])
    out = multimodal.resize_pixels(2, 2, 3, px, 4, 4)
    assert len(out) == 4 * 4 * 3
    assert out[0:3] == bytes([255, 0, 0]) and out[3:6] == bytes([255, 0, 0])
    assert out[6:9] == bytes([0, 255, 0])
    # downscale back to 2x2 recovers the original corners
    back = multimodal.resize_pixels(4, 4, 3, out, 2, 2)
    assert back == px
    # composes with the real decoder
    png = _encode_png(6, 4, 3, bytes((i * 5) % 256 for i in range(6 * 4 * 3)), [0])
    w, h, ch, pixels = multimodal.decode_image(png)
    small = multimodal.resize_pixels(w, h, ch, pixels, 3, 2)
    assert len(small) == 3 * 2 * 3


def _encode_wav(rate, samples, sampwidth=2):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        fmt = {1: "B", 2: "h"}[sampwidth]
        w.writeframes(struct.pack(f"<{len(samples)}{fmt}", *samples))
    return buf.getvalue()


def test_audio_stats_real_wav_decode_through_spark(spark):
    import math

    rate = 8000
    # 1 second of a full-scale square wave: RMS = amplitude exactly
    samples = [10000 if i % 2 == 0 else -10000 for i in range(rate)]
    wav = _encode_wav(rate, samples)
    rows = [(1, bytearray(wav)), (2, bytearray(b"mp3-ish garbage"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in multimodal.audio_stats(df, "doc_id", "payload").collect()}
    ok = out[1]
    assert (ok.n_channels, ok.sample_rate, ok.n_samples) == (1, rate, rate)
    assert ok.duration_s == pytest.approx(1.0)
    assert ok.rms == pytest.approx(10000.0)
    assert ok.decode_error is None
    assert out[2].sample_rate is None and "WAV" in out[2].decode_error


def test_audio_stats_8bit_wav_is_unsigned_midpoint_128(spark):
    """8-bit PCM WAV stores UNSIGNED bytes centered at 128 (WAV spec) — a
    ±100 square wave encodes as alternating 228/28 and its RMS after the
    midpoint shift is exactly 100.  The pre-round-5 signed read ('b')
    wrapped 228 to -28 and reported ~28 instead (ADVICE r4)."""
    rate = 8000
    samples = [228 if i % 2 == 0 else 28 for i in range(rate)]  # ±100 around 128
    wav = _encode_wav(rate, samples, sampwidth=1)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    ok = multimodal.audio_stats(df, "doc_id", "payload").collect()[0]
    assert (ok.n_channels, ok.sample_rate, ok.n_samples) == (1, rate, rate)
    assert ok.rms == pytest.approx(100.0)
    assert ok.decode_error is None


def test_with_wav_payload_round_trips_through_real_decoder(spark):
    """The audio testdata adapter emits genuine RIFF/PCM containers: the
    production decode path recovers rate/width/frames exactly, and the
    RMS equals the hand-computed sqrt(mean((ascii-128)^2)) of the text."""
    import math

    rows = [(1, "AB"), (2, "")]  # A=65, B=66 → values -63, -62
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wavs = multimodal.with_wav_payload(df, "doc_id", "text", sample_rate=4000)
    payload = {r.doc_id: bytes(r.payload) for r in wavs.collect()}
    ch, rate, width, frames = multimodal.decode_audio(payload[1])
    assert (ch, rate, width, frames) == (1, 4000, 1, b"AB")
    out = {r.doc_id: r for r in
           multimodal.audio_stats(wavs, "doc_id", "payload").collect()}
    assert out[1].rms == pytest.approx(math.sqrt((63**2 + 62**2) / 2))
    assert (out[2].n_samples, out[2].rms) == (0, 0.0)
    assert out[1].decode_error is None and out[2].decode_error is None


def test_connected_components_transitive_clusters(spark):
    """Chain A~B~C merges into one cluster even though A~C was never a
    pair; disjoint cliques/pairs stay separate; convergence raises past
    max_iter on a pathological chain only if the bound is too low."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)], "id_a long, id_b long"
    )
    cc = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    rows = {r.cluster_id: (r.keep_id, r.n_docs)
            for r in dedup.neardup_clusters(pairs).collect()}
    assert rows == {1: (1, 3), 10: (10, 3), 20: (20, 2)}
    # a long chain needs diameter rounds; a too-small bound fails loudly
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)
    assert {r.cluster_id for r in dedup.connected_components(chain).collect()} == {0}
    # stats instrumentation (SCALE.md CC cost-floor section): a diameter-1
    # pair graph converges in exactly 2 rounds — 1 propagation + 1
    # no-change confirmation, the floor of any convergence-detecting loop
    stats = {}
    two = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    dedup.connected_components(two, stats=stats).collect()
    assert stats["rounds"] == 2 and len(stats["round_secs"]) == 2


def test_hyperplane_bucket_arrow_parity(spark):
    """The Arrow-batched bucket assignment must be value-identical to the
    expression form (same md5 plane coefficients, same sign packing) —
    it's the swap-in for high-dimensional corpora where n_planes
    interpreted zip_with passes per row dominate."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr = {
        r.vec_id: r.b
        for r in df.withColumn(
            "b", similarity.hyperplane_bucket(F.col("embedding"), 16, 8).cast("long")
        ).collect()
    }
    arrow = {
        r.vec_id: r.lsh_bucket
        for r in similarity.with_hyperplane_bucket_arrow(
            df, "vec_id", "embedding", 16, 8
        ).collect()
    }
    assert expr == arrow


def test_pq_codebook_vectors_have_zero_error(spark):
    """A vector that IS a codebook centroid in every subspace reconstructs
    exactly: the ksub lowest-id vectors (the stub codebook) get pq_err 0."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.pq_codebooks(emb, "vec_id", "embedding", 64, 4, 16)
    enc = similarity.pq_encode(emb, "vec_id", "embedding", cb)
    errs = {r.vec_id: r.pq_err for r in enc.filter(F.col("vec_id") < 16).collect()}
    assert set(errs) == set(range(16))
    assert all(e == 0.0 for e in errs.values())
    # and its codes are its own id in every subspace
    codes = enc.filter(F.col("vec_id") == 3).collect()[0].codes
    assert codes == [3, 3, 3, 3]


def test_pq_kmeans_beats_stub(spark):
    """Per-subspace k-means codebooks (the production path) must cut mean
    reconstruction error vs the first-ksub-ids stub — same stub-vs-trained
    contract as test_ivf_kmeans_recall_beats_stub."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    stub = similarity.pq_codebooks(emb, "vec_id", "embedding", 64, 4, 16)
    km = similarity.pq_codebooks_kmeans(emb, "embedding", 64, 4, 16)
    mean_err = {}
    for name, cb in (("stub", stub), ("km", km)):
        enc = similarity.pq_encode(emb, "vec_id", "embedding", cb)
        mean_err[name] = enc.agg(F.avg("pq_err")).collect()[0][0]
    assert mean_err["km"] < mean_err["stub"]


def test_pq_adc_ranks_query_vector_first(spark):
    """ADC distance of the query to itself is 0 (its assigned centroids
    are the closest possible), so the query vector leads its own top-k;
    scores ascend and respect the (adc_d2, vec_id) total order."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.pq_codebooks(emb, "vec_id", "embedding", 64, 4, 16)
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qe"))
    out = similarity.pq_adc_topk(emb, "vec_id", "embedding", q, cb, k=5).collect()
    assert out[0].vec_id == 7 and out[0].adc_d2 == 0.0
    assert [r.adc_d2 for r in out] == sorted(r.adc_d2 for r in out)


# ---------------------------------------------------------------------------
# Sequence packing / mixture planning / SemDeDup (round 5)
# ---------------------------------------------------------------------------


def test_pack_plan_is_contiguous_chunking(spark):
    """Within each shard, docs tile the concatenated token stream exactly:
    orderly cumulative offsets, integer sequence math, correct straddle flag."""
    from mandodb_spark.operators.packing import pack_plan

    docs = spark.createDataFrame(
        [(i, 10 + (i * 37) % 300) for i in range(200)], "doc_id long, n_tokens long"
    )
    plan = pack_plan(docs, "doc_id", "n_tokens", seq_len=128, n_groups=4).collect()
    assert len(plan) == 200
    assert {r.doc_id for r in plan} == set(range(200))
    by_grp: dict[int, list] = {}
    for r in plan:
        assert 0 <= r.grp < 4
        assert 0 <= r.offset < 128
        by_grp.setdefault(r.grp, []).append(r)
    for rows in by_grp.values():
        rows.sort(key=lambda r: (r.seq, r.offset))
        cum = 0
        for r in rows:
            assert r.seq == cum // 128 and r.offset == cum % 128
            assert r.crosses == (r.offset + r.n_tokens > 128)
            cum += r.n_tokens


def test_pack_plan_deterministic_across_partitioning(spark):
    from mandodb_spark.operators.packing import pack_plan

    docs = spark.createDataFrame(
        [(i, 5 + i % 50) for i in range(300)], "doc_id long, n_tokens long"
    )
    a = pack_plan(docs, "doc_id", "n_tokens", 64, 8)
    b = pack_plan(docs.repartition(7), "doc_id", "n_tokens", 64, 8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_mixture_rates_budget_and_caps(spark):
    """Rates respect weight shares, cap at 1.0, and realize ≈ the token
    budget when no stratum caps."""
    from mandodb_spark.operators.sampling import mixture_rates

    rows = [(i, "web" if i % 4 else "code", 100) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    # code: 100 docs * 100 tok; web: 300 * 100.  weights code=3, web=1.
    rates = {
        r["source"]: r
        for r in mixture_rates(
            df, "source", "n_tokens", {"code": 3.0}, 1.0, budget_tokens=20_000
        ).collect()
    }
    # code target = 20000 * 3/4 = 15000 over 10000 observed -> capped at 1.0
    assert rates["code"]["rate"] == 1.0
    # web target = 20000 * 1/4 = 5000 over 30000 -> 1/6
    assert abs(rates["web"]["rate"] - 5000 / 30000) < 1e-12
    assert rates["web"]["tok_total"] == 30_000


def test_mixture_budget_frac_is_scale_invariant(spark):
    from mandodb_spark.operators.sampling import mixture_rates

    def rates_at(n):
        rows = [(i, "a" if i % 2 else "b", 10) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        return {
            r["source"]: r["rate"]
            for r in mixture_rates(
                df, "source", "n_tokens", {}, 1.0, budget_frac=0.5
            ).collect()
        }

    assert rates_at(100) == rates_at(1000)  # same halves -> same rates


def test_semantic_dedup_keeps_min_id_representative(spark):
    """Every near-dup pair drops its higher id; kept set has no intra-bucket
    near pair; the smallest id of each bucket always survives."""
    import math

    from mandodb_spark.operators.similarity import semantic_dedup

    def vec(angle):
        return [float(math.cos(angle)), float(math.sin(angle))]

    rows = [
        # bucket 0: 1/2 nearly parallel (near-dup), 3 orthogonal
        (1, vec(0.00), 0),
        (2, vec(0.01), 0),
        (3, vec(1.40), 0),
        # bucket 1: all three mutually near -> keep only id 10
        (10, vec(0.50), 1),
        (11, vec(0.51), 1),
        (12, vec(0.52), 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cell int")
    verdict = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(df, "vec_id", "embedding", "cell", 0.99).collect()
    }
    assert verdict == {1: True, 2: False, 3: True, 10: True, 11: False, 12: False}


def test_chunk_spans_tile_with_overlap(spark):
    """Chunks advance by chunk-overlap tokens, cover every token, and the
    final partial chunk is kept (never an empty chunk)."""
    from mandodb_spark.operators.text import chunk_spans

    text10 = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text10), (2, "one two")], "doc_id long, text string")
    out = sorted(chunk_spans(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect(),
                 key=lambda r: (r.doc_id, r.chunk_idx))
    d1 = [r for r in out if r.doc_id == 1]
    # 10 tokens, window 4, step 3: last_idx = floor((10-2)/3) = 2 -> chunks start at 0, 3, 6
    assert [r.chunk_text for r in d1] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9",
    ]
    assert all(r.n_chunk_tokens == 4 for r in d1)
    d2 = [r for r in out if r.doc_id == 2]
    assert [r.chunk_text for r in d2] == ["one two"]
    assert d2[0].n_chunk_tokens == 2


def test_write_shards_round_trips_plan_order(spark, tmp_path_factory):
    """Shard files hold each group's docs in the exact (seq, offset)
    concatenation order the plan promised."""
    from mandodb_spark.operators.packing import pack_plan, write_shards

    docs = spark.createDataFrame(
        [(i, 7 + i % 23) for i in range(120)], "doc_id long, n_tokens long"
    )
    plan = pack_plan(docs, "doc_id", "n_tokens", seq_len=64, n_groups=4)
    out = str(tmp_path_factory.mktemp("shards") / "packed")
    write_shards(plan, out)

    back = spark.read.parquet(out)
    assert back.count() == 120
    for g in range(4):
        rows = [r for r in back.filter(f"grp = {g}").collect()]
        expected = sorted(rows, key=lambda r: (r.seq, r.offset))
        # parquet preserves within-file row order; single sorted file per shard
        import glob as _g
        files = _g.glob(f"{out}/grp={g}/*.parquet")
        assert files
        got = spark.read.parquet(*files).collect()
        assert [(r.seq, r.offset) for r in sorted(got, key=lambda r: (r.seq, r.offset))] == [
            (r.seq, r.offset) for r in expected
        ]
        # plan invariant survives the round trip
        cum = 0
        for r in expected:
            assert (r.seq, r.offset) == (cum // 64, cum % 64)
            cum += r.n_tokens


def test_ivfpq_candidates_restricted_to_probed_cells(spark):
    """IVF-PQ ranks only probed-cell members: a vector whose cell isn't
    probed never appears, the query vector ranks first at distance 0, and
    results agree with running ADC over the probed subset directly."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = similarity.pq_codebooks(emb, "vec_id", "embedding", 64, 4, 16)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    out = similarity.ivfpq_topk(emb, "vec_id", "embedding", q, cb,
                                n_cells=16, n_probe=4, k=10).collect()
    assert len(out) == 10
    assert out[0].vec_id == 0 and out[0].adc_d2 == 0.0

    cent = similarity.ivf_cells(emb, "vec_id", "embedding", 16)
    probe = {
        r.cell
        for r in cent.crossJoin(F.broadcast(q))
        .select("cell", F.round(similarity.cosine(F.col("cvec"), F.col("qe")), 6).alias("s"))
        .orderBy(F.col("s").desc(), "cell").limit(4).collect()
    }
    assign = {r.vec_id: r.cell
              for r in similarity.ivf_assign(emb, "vec_id", "embedding", cent).collect()}
    assert all(assign[r.vec_id] in probe for r in out)
    # parity with ADC over the probed subset computed independently
    subset = emb.filter(F.col("vec_id").isin([v for v, c in assign.items() if c in probe]))
    direct = similarity.pq_adc_topk(subset, "vec_id", "embedding", q, cb, k=10).collect()
    assert [(r.vec_id, r.adc_d2) for r in out] == [(r.vec_id, r.adc_d2) for r in direct]


def test_mixture_epochs_replicates_by_rate(spark):
    """Uncapped rate 2.5 → every row appears 2 or 3 times (epoch-numbered),
    mean ≈ 2.5; a rate-1.0 stratum appears exactly once per row."""
    from mandodb_spark.operators.sampling import mixture_epochs

    rows = [(i, "code" if i < 200 else "web", 10) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    # totals: code 2000, web 4000.  weights code=5, web=1: Σw=6.
    # budget = 6000 → code target 5000/2000 = 2.5; web target 1000/4000 = 0.25
    out = mixture_epochs(
        df, "doc_id", "source", "n_tokens", {"code": 5.0}, 1.0, budget_tokens=6000
    ).collect()
    code = [r for r in out if r.source == "code"]
    web = [r for r in out if r.source == "web"]
    from collections import Counter

    per_doc = Counter(r.doc_id for r in code)
    assert set(per_doc.values()) <= {2, 3}
    assert len(per_doc) == 200  # every code doc present (rate >= 2)
    mean = sum(per_doc.values()) / len(per_doc)
    assert 2.3 < mean < 2.7
    # epochs are 1..n_copies per doc
    epochs = sorted(r.epoch for r in code if r.doc_id == code[0].doc_id)
    assert epochs == list(range(1, len(epochs) + 1))
    # web downsampled: strictly fewer instances than docs, none duplicated
    web_counts = Counter(r.doc_id for r in web)
    assert web_counts and max(web_counts.values()) == 1
    assert 0.15 * 400 < len(web_counts) < 0.35 * 400


def test_profile_table_counts_nulls_and_distincts(spark):
    from mandodb_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, s string"
    )
    out = {r.column: r for r in profile_table(df, ["id", "s"]).collect()}
    assert out["id"].n_nonnull == 4 and out["id"].n_null == 0
    assert out["id"].n_distinct == 4
    assert (out["id"].min_value, out["id"].max_value) == ("1", "4")
    assert out["s"].n_nonnull == 3 and out["s"].n_null == 1
    assert out["s"].n_distinct == 2
    assert (out["s"].min_value, out["s"].max_value) == ("a", "b")
    # approximate mode keeps the schema, lands near the exact cardinality
    approx = {r.column: r for r in profile_table(df, ["id"], approximate=True).collect()}
    assert abs(approx["id"].n_distinct - 4) <= 1


def test_semantic_dedup_with_kmeans_cells(spark):
    """The k-means coarse quantizer drops into semantic_dedup unchanged
    (same bucketed contract as the stub): verdicts cover every vector
    exactly once and keep at least one representative per cell."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = similarity.ivf_cells_kmeans(emb, "embedding", 8)
    assign = similarity.ivf_assign(emb, "vec_id", "embedding", cent)
    bucketed = emb.join(assign, "vec_id")
    out = similarity.semantic_dedup(bucketed, "vec_id", "embedding", "cell", 0.3).collect()
    assert len(out) == emb.count()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, rows in by_cell.items():
        assert any(r.kept for r in rows), f"cell {cell} kept nothing"
        assert min(r.vec_id for r in rows) in {r.vec_id for r in rows if r.kept}


def test_redact_pii_replaces_known_shapes(spark):
    from mandodb_spark.operators.text import pii_counts, redact_pii
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@site.co or call +1 (415) 555-0199 from 10.0.0.1")],
        "id long, text string",
    )
    row = df.select(
        redact_pii(F.col("text")).alias("r"),
        *[c.alias(k) for k, c in pii_counts(F.col("text")).items()],
    ).collect()[0]
    assert "<EMAIL>" in row.r and "<PHONE>" in row.r and "<IPV4>" in row.r
    assert "jo.doe" not in row.r and "555" not in row.r and "10.0.0.1" not in row.r
    assert (row.email, row.phone, row.ipv4) == (1, 1, 1)


def test_pack_nosplit_never_straddles(spark):
    """No-split invariants: in-capacity docs never cross a boundary,
    sequences never overlap, oversized docs start fresh and consume
    ceil(t/seq_len) sequences."""
    from mandodb_spark.operators.packing import pack_plan_nosplit

    toks = [30, 50, 40, 60, 10, 300, 20, 64, 64, 5]  # seq_len 64; 300 oversized
    docs = spark.createDataFrame(list(enumerate(toks)), "doc_id long, n_tokens long")
    plan = pack_plan_nosplit(docs, "doc_id", "n_tokens", seq_len=64, n_groups=2).collect()
    assert len(plan) == len(toks)
    by_grp = {}
    for r in plan:
        by_grp.setdefault(r.grp, []).append(r)
    for rows in by_grp.values():
        rows.sort(key=lambda r: (r.seq, r.offset))
        cursor = 0  # global token cursor = seq*64 + offset must be non-decreasing
        for r in rows:
            start = r.seq * 64 + r.offset
            assert start >= cursor, "overlap"
            if r.n_tokens <= 64:
                assert r.offset + r.n_tokens <= 64, "straddle"
            else:
                assert r.offset == 0, "oversized must start fresh"
            cursor = start + r.n_tokens


def test_bloom_gate_no_false_negatives_and_bounded_words(spark):
    from mandodb_spark.operators import membership

    hist = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(200)], "key string"
    )
    m = 1 << 12
    bloom = membership.bloom_build(hist, F.col("key"), m_bits=m)
    words = bloom.collect()
    # occupied-word table is bounded by the geometry, never the corpus
    # (+1: the reserved geometry row the build attaches, ADVICE r5)
    assert len(words) <= m // membership.WORD_BITS + 1
    assert all(w.bits != 0 for w in words)

    probes = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(150, 250)]  # 50 members, 50 novel
        , "key string"
    )
    out = membership.bloom_flag(
        probes, F.col("key"), bloom, m_bits=m
    ).collect()
    members = {r.key: r.might_contain for r in out}
    # every true member flags (Bloom filters have no false negatives)
    for i in range(150, 200):
        assert members[f"doc-{i}"] is True
    # false-positive floor: (1-e^(-3*200/4096))^3 ~ 0.25% — 50 novel keys
    # should essentially never all collide; allow a generous bound
    fps = sum(1 for i in range(200, 250) if members[f"doc-{i}"])
    assert fps <= 3


def test_bloom_probe_plan_broadcasts_and_never_shuffles_probes(spark):
    from mandodb_spark.operators import membership
    from mandodb_spark.plans import physical_plan, shuffle_count

    hist = spark.createDataFrame([("a",), ("b",)], "key string")
    probes = spark.createDataFrame([("a",), ("z",)], "key string")
    bloom = membership.bloom_build(hist, F.col("key"))
    flagged = membership.bloom_flag(probes, F.col("key"), bloom)
    plan = physical_plan(flagged)
    # map-form probe (round 6): the whole word table folds into ONE
    # broadcast map row — exactly one nested-loop join of that single
    # row, no hash joins, and the build pipeline appears ONCE (the old
    # k-join form replicated the full build subplan per hash)
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the ONLY exchanges are build-side: the word aggregation + the
    # single-partition map fold — the probe side never shuffles
    assert shuffle_count(flagged) == 2


def test_shuffle_plan_is_deterministic_total_permutation(spark):
    from mandodb_spark.operators.sampling import shuffle_plan

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = shuffle_plan(df, "doc_id", n_shards=8, seed="s").collect()
    b = shuffle_plan(df, "doc_id", n_shards=8, seed="s").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    # every doc exactly once
    assert sorted(r.doc_id for r in a) == list(range(500))
    # positions are 1..n contiguous within each shard
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed yields a different permutation
    c = shuffle_plan(df, "doc_id", n_shards=8, seed="t").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))
    # no shard is pathologically loaded (uniform hash: expect ~62 each)
    assert max(len(v) for v in by_shard.values()) < 125


def test_bloom_null_keys_occupy_no_bits_and_never_flag(spark):
    from mandodb_spark.operators import membership

    hist = spark.createDataFrame([("a",), (None,)], "key string")
    bloom = membership.bloom_build(hist, F.col("key"))
    rows = bloom.collect()
    assert all(r.word is not None and r.bits is not None for r in rows)
    out = membership.bloom_flag(
        spark.createDataFrame([("a",), (None,)], "key string"),
        F.col("key"), bloom,
    ).collect()
    by_key = {r.key: r.might_contain for r in out}
    assert by_key["a"] is True
    assert by_key[None] is False


def test_group_cap_enforces_cap_deterministically(spark):
    from mandodb_spark.operators.sampling import group_cap

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = group_cap(df, "doc_id", "source", cap=30).collect()
    b = group_cap(df, "doc_id", "source", cap=30).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_src: dict[str, list[int]] = {}
    for r in a:
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert len(by_src["big"]) == 30          # hot group capped
    assert len(by_src["small"]) == 20        # under-cap group untouched
    assert sorted(by_src["small"]) == list(range(80, 100))
    # a different salt picks a different 30-subset of the hot group
    c = group_cap(df, "doc_id", "source", cap=30, salt="other").collect()
    assert {r.doc_id for r in c if r.source == "big"} != set(by_src["big"])


def test_gopher_flags_trip_each_rule(spark):
    base = "the quick brown fox and a dog of zeal run past the old mill gate " * 2  # 28 words, has stopwords
    docs = [
        (0, base.strip()),                                    # passes all
        (1, "short text only"),                               # word count floor
        (2, ("hyperlongwordtokens " * 25).strip()),           # avg word len > 10
        (3, ("the a of " + "# " * 10 + "word " * 15).strip()), # symbol ratio > 0.1
        (4, ("1 2 3 4 5 6 7 8 9 10 " * 3 + "the a").strip()), # alpha-word frac < 0.8
        (5, ("alpha beta gamma delta epsilon " * 5).strip()),  # no stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in df.select("doc_id", *text.gopher_flags(F.col("text"))).collect()}
    assert rows[0].gopher_pass == 1
    assert rows[1].ok_word_count == 0 and rows[1].gopher_pass == 0
    assert rows[2].ok_word_len == 0 and rows[2].gopher_pass == 0
    assert rows[3].ok_symbols == 0 and rows[3].gopher_pass == 0
    assert rows[4].ok_alpha_words == 0 and rows[4].gopher_pass == 0
    assert rows[5].ok_stopwords == 0 and rows[5].gopher_pass == 0


def test_span_dedup_first_occurrence_wins_and_rebuilds_in_order(spark):
    """Cross-document span removal: doc 2's copy of doc 1's span vanishes
    (first occurrence = lower (doc_id, span_idx)), an all-duplicate doc
    survives with empty text, and surviving spans rebuild in original
    order."""
    docs = [
        (1, "a b c d e f g h i j"),          # spans: "a b c d e", "f g h i j"
        (2, "a b c d e x y z w v"),          # first span duplicates doc 1's
        (3, "f g h i j a b c d e"),          # both spans already seen
        (4, "q r s"),                        # short doc, one 3-token span
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.span_dedup(df, "doc_id", "text", span_tokens=5).collect()}
    assert (out[1].n_spans, out[1].kept_spans) == (2, 2)
    assert out[1].new_text == "a b c d e f g h i j"
    assert (out[2].n_spans, out[2].kept_spans) == (2, 1)
    assert out[2].new_text == "x y z w v"
    assert (out[3].n_spans, out[3].kept_spans, out[3].new_text) == (2, 0, "")
    assert (out[4].n_spans, out[4].kept_spans, out[4].new_text) == (1, 1, "q r s")


def test_bloom_geometry_travels_with_filter(spark):
    """ADVICE r5: the filter carries its (m_bits, k) geometry; probing with
    mismatched parameters raises (an in-plan raise_error — zero extra
    jobs, fires at execution) instead of silently false-negativing."""
    import pytest as _pytest

    from mandodb_spark.operators import membership

    hist = spark.createDataFrame([(f"k{i}",) for i in range(20)], "key string")
    bloom = membership.bloom_build(hist, F.col("key"), m_bits=1 << 12)
    # matching probe works and finds every built key (no false negatives)
    out = membership.bloom_flag(hist, F.col("key"), bloom, m_bits=1 << 12)
    assert all(r.might_contain for r in out.collect())
    # mismatched m_bits refuses loudly at execution
    with _pytest.raises(Exception, match="geometry mismatch"):
        membership.bloom_flag(hist, F.col("key"), bloom, m_bits=1 << 13).collect()
    # mismatched k refuses loudly at execution
    with _pytest.raises(Exception, match="geometry mismatch"):
        membership.bloom_flag(
            hist, F.col("key"), bloom, m_bits=1 << 12, k=5
        ).collect()
    # an externally-built filter (no geometry row) probes unvalidated
    bare = bloom.filter(F.col("word") >= 0)
    ext = membership.bloom_flag(hist, F.col("key"), bare, m_bits=1 << 12)
    assert all(r.might_contain for r in ext.collect())


def test_wav_payload_null_and_nonascii_guards(spark):
    """ADVICE r5: NULL text synthesizes a zero-frame WAV (not the bytes of
    'None'); non-ASCII text fails loudly instead of silently diverging
    from the character-level oracle."""
    import pytest as _pytest

    rows = spark.createDataFrame(
        [(1, "abc"), (2, None)], "doc_id long, text string"
    )
    wavs = multimodal.with_wav_payload(rows, "doc_id", "text")
    out = {r.doc_id: r for r in
           multimodal.audio_stats(wavs, "doc_id", "payload").collect()}
    assert out[1].n_samples == 3
    assert out[2].n_samples == 0 and out[2].rms == 0.0
    bad = spark.createDataFrame([(3, "héllo")], "doc_id long, text string")
    with _pytest.raises(Exception, match="non-ASCII"):
        multimodal.with_wav_payload(bad, "doc_id", "text").collect()


def test_avi_keyframe_only_sampling(spark):
    """Keyframe-only sampling (round 6): idx1 AVIIF_KEYFRAME flags select
    the sampled frames; an AVI without keyframe information refuses
    loudly; frame hashes stay true-byte-range hashes with the real
    container frame indices."""
    import hashlib as _hl

    import pytest as _pytest

    frames = [f"f-{i}".encode() + b"x" * i for i in range(10)]
    keyed = _encode_avi(64, 48, 40_000, frames, keyframes={0, 4, 8})
    unkeyed = _encode_avi(64, 48, 40_000, frames, keyframes=set())  # idx1, no keys
    df = spark.createDataFrame(
        [(1, bytearray(keyed))], "doc_id long, payload binary"
    )
    out = {(r.doc_id, r.frame_idx): r.frame_md5
           for r in multimodal.sample_frames(df, "doc_id", "payload",
                                             keyframes_only=True).collect()}
    assert sorted(i for (_d, i) in out) == [0, 4, 8]
    assert out[(1, 4)] == _hl.md5(frames[4]).hexdigest()
    # without keyframes_only all 10 frames sample (cap 8 → stride 2)
    allf = multimodal.sample_frames(df, "doc_id", "payload").collect()
    assert sorted(r.frame_idx for r in allf) == [0, 2, 4, 6, 8]
    # an AVI with an index but zero keyframes refuses loudly
    df2 = spark.createDataFrame([(2, bytearray(unkeyed))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="no keyframe"):
        multimodal.sample_frames(df2, "doc_id", "payload", keyframes_only=True).collect()


def test_progressive_jpeg_decodes_through_image_stats(spark):
    """Round 7 closes the last carried format gap (r5 item 8 pinned the
    error row; r6 verdict #8 asked for the decode): a progressive (SOF2)
    JPEG now decodes for REAL through the image_stats pipeline — same
    dims/pixels as the baseline encoding of the same plane — while a
    malformed stream (no SOS) still degrades to a per-asset error row."""
    import struct

    import numpy as np

    img = (np.full((8, 8), 120.0) + np.indices((8, 8)).sum(0))
    prog_ok = _encode_jpeg_progressive([img])
    base_ok = _encode_jpeg([img])
    trunc = bytearray(b"\xff\xd8")
    body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    trunc.extend(bytes([0xFF, 0xC2]) + struct.pack(">H", len(body) + 2) + body)
    df = spark.createDataFrame(
        [(1, bytearray(prog_ok)), (2, bytearray(base_ok)),
         (3, bytearray(bytes(trunc)))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in
           multimodal.image_stats(df, "doc_id", "payload").collect()}
    assert out[1].decode_error is None and (out[1].width, out[1].height) == (8, 8)
    # progressive and baseline carry identical coefficients -> identical stats
    assert (out[1].width, out[1].height, out[1].mean_luma) == \
        (out[2].width, out[2].height, out[2].mean_luma)
    assert out[3].decode_error is not None and "no SOS" in out[3].decode_error


# --------------------------------------------------- line dedup (CCNet-style)
def _duck_parity(spark_df, sql, frames):
    """Run `sql` in DuckDB over the registered pandas `frames` and compare
    against the Spark result with oracle_check's normalization."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from oracle_check import compare

    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(name, pdf)
    problems = compare("parity", spark_df.toPandas(), con.execute(sql).df())
    assert not problems, problems


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    rows = [
        (1, "unique intro one\nCOOKIE BANNER\nbody text alpha\nshare on x"),
        (2, "unique intro two\nCOOKIE BANNER\nbody text beta\nshare on x"),
        (3, "standalone page\nbody text gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(df, "doc_id", "text").collect()}
    # boilerplate (COOKIE BANNER, share on x) dropped from every doc;
    # unique lines survive in order
    assert out[1].new_text == "unique intro one\nbody text alpha"
    assert out[2].new_text == "unique intro two\nbody text beta"
    assert out[3].new_text == "standalone page\nbody text gamma"
    assert (out[1].n_lines, out[1].kept_lines) == (4, 2)
    assert (out[3].n_lines, out[3].kept_lines) == (2, 2)


def test_line_dedup_all_boilerplate_doc_survives_empty(spark):
    rows = [(1, "same\nsame two"), (2, "same\nsame two"), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(df, "doc_id", "text").collect()}
    assert out[1].new_text == "" and out[1].kept_lines == 0 and out[1].n_lines == 2
    assert out[2].new_text == ""
    assert out[3].new_text == "other"
    # within-doc repetition alone is NOT boilerplate (distinct-doc count)
    solo = spark.createDataFrame([(7, "x\nx\ny")], "doc_id long, text string")
    r = dedup.line_dedup(solo, "doc_id", "text").collect()[0]
    assert (r.n_lines, r.kept_lines, r.new_text) == (3, 3, "x\nx\ny")
    # min_dup_docs raises the bar: 2 sharing docs no longer trip the gate
    out3 = {r.doc_id: r for r in dedup.line_dedup(df, "doc_id", "text",
                                                  min_dup_docs=3).collect()}
    assert out3[1].new_text == "same\nsame two" and out3[3].new_text == "other"


def test_line_dedup_duckdb_parity(spark):
    import random

    rng = random.Random(7)
    boiler = ["accept all cookies", "follow us", "copyright 2026 site"]
    uniq = lambda i, j: f"doc {i} line {j} {rng.randrange(1000)}"
    rows = [
        (i, "\n".join(
            [uniq(i, j) if rng.random() < 0.6 else rng.choice(boiler) for j in range(rng.randrange(1, 8))]
        ))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    _duck_parity(
        dedup.line_dedup(df, "doc_id", "text"),
        dedup.line_dedup_sql("docs_t", "doc_id", "text"),
        {"docs_t": df.toPandas()},
    )


# ----------------------------------------------------------------- BM25
def test_bm25_scores_and_ranks(spark):
    rows = [
        (1, "spark shuffle join shuffle"),
        (2, "spark scan"),
        (3, "unrelated words entirely different"),
        (4, "shuffle shuffle shuffle shuffle shuffle"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.bm25_topk(df, "doc_id", "text", ["spark", "shuffle"], k=3).collect()
    ids = [r.doc_id for r in got]
    assert ids[0] == 1  # matches both terms
    assert 3 not in ids  # no query term
    assert [r.rank for r in got] == [1, 2, 3]
    assert all(got[i].score >= got[i + 1].score for i in range(len(got) - 1))
    # hand-check doc 2's score: one 'spark' occurrence, dl=2
    import math as m

    n_docs, avgdl = 4, (4 + 2 + 4 + 5) / 4
    idf = m.log(1 + (n_docs - 2 + 0.5) / (2 + 0.5))
    tf_term = 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / avgdl))
    expect = round(idf * tf_term, 6)
    got2 = next(r for r in got if r.doc_id == 2)
    assert abs(got2.score - expect) < 1e-9


def test_bm25_duckdb_parity_on_documents(spark):
    import pandas as pd

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ]
    df = spark.createDataFrame(pdf)
    terms = ["spark", "shuffle", "parquet", "window"]
    _duck_parity(
        text.bm25_topk(df, "doc_id", "text", terms, k=15),
        text.bm25_topk_sql("docs_t", "doc_id", "text", terms, k=15),
        {"docs_t": pdf},
    )


# ------------------------------------------------------------ BPE training
def test_bpe_train_learns_expected_merges(spark):
    """Hand-computed Sennrich example: corpus 3x'aaab' + 2x'aab'.
    Pair counts: (a,a)=8, (a,b)=5 -> merge (a,a); then (aa,a)=3 ties
    (a,b)=3 -> lex tiebreak picks (a,b); then (aa,ab)=3 beats (aa,b)=2."""
    from mandodb_spark.operators import tokenizer

    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "aaab aab"), (3, "aab"), (4, None)],
        "doc_id long, text string",
    )
    merges = tokenizer.bpe_train(df, "text", n_merges=3)
    assert merges == [("a", "a"), ("a", "b"), ("aa", "ab")]
    # NULL text is an empty document, not the string "None"
    stats = {r.doc_id: r for r in
             tokenizer.bpe_encode_stats(df, "doc_id", "text", merges).collect()}
    assert (stats[4].n_words, stats[4].n_subwords, stats[4].compression) == (0, 0, None)


def test_bpe_encode_stats_compression_grows_with_merges(spark):
    from mandodb_spark.operators import tokenizer

    df = spark.createDataFrame(
        [(i, "the theme thesis theory then there") for i in range(4)],
        "doc_id long, text string",
    )
    merges = tokenizer.bpe_train(df, "text", n_merges=10)
    none = tokenizer.bpe_encode_stats(df, "doc_id", "text", []).collect()
    full = tokenizer.bpe_encode_stats(df, "doc_id", "text", merges).collect()
    for r0, r1 in zip(sorted(none, key=lambda r: r.doc_id),
                      sorted(full, key=lambda r: r.doc_id)):
        # zero merges: one subword per character
        assert r0.compression == 1.0
        assert r0.n_subwords > r1.n_subwords >= r1.n_words
        assert r1.compression > 1.0


def test_bpe_train_on_real_corpus_is_deterministic_and_bounded(spark):
    from mandodb_spark.operators import tokenizer

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m1 = tokenizer.bpe_train(df, "text", n_merges=30, max_words=500)
    m2 = tokenizer.bpe_train(df, "text", n_merges=30, max_words=500)
    assert m1 == m2 and len(m1) == 30
    stats = tokenizer.bpe_encode_stats(df, "doc_id", "text", m1)
    row = stats.agg(
        F.sum("n_subwords").alias("s"), F.sum("n_words").alias("w")
    ).first()
    assert row.s >= row.w > 0


def test_ce_buckets_orders_head_middle_tail(spark):
    """CCNet bucketing: boilerplate made of ultra-common tokens lands in
    the head (bucket 0), rare-token noise in the tail (bucket max)."""
    common = "the and of to in " * 8
    rows = (
        [(i, common) for i in range(10)]
        + [(100 + i, common + f"moderately unusual term{i}") for i in range(10)]
        + [(200 + i, f"zzq{i} xq{i}w qqj{i} vvx{i} kkz{i}") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bucket for r in text.ce_buckets(df, "doc_id", "text").collect()}
    assert all(out[i] == 0 for i in range(10))
    assert all(out[200 + i] == 2 for i in range(10))
    assert all(out[100 + i] in (0, 1) for i in range(10))
    assert any(out[100 + i] == 1 for i in range(10))


# ------------------------------------------------- image perceptual dedup
def test_image_ahash_brightness_invariant_and_neardup_pairs(spark):
    """aHash through the real PPM decode: a global brightness shift leaves
    the hash identical (threshold at the mean), light local noise stays
    within the Hamming bound, a different image does not pair, and a
    poisoned payload degrades to an error row, never a crash."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.integers(0, 200, size=(16, 16, 3), dtype=np.uint8)
    bright = np.clip(base.astype(int) + 30, 0, 255).astype(np.uint8)
    noisy = base.copy()
    noisy[3, 4] = 255  # one hot pixel
    other = rng.integers(0, 255, size=(16, 16, 3), dtype=np.uint8)

    def ppm(a):
        h, w, _ = a.shape
        return bytearray(f"P6\n{w} {h}\n255\n".encode() + a.tobytes())

    rows = [(1, ppm(base)), (2, ppm(bright)), (3, ppm(noisy)),
            (4, ppm(other)), (5, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    hashes = {r.doc_id: r for r in multimodal.image_ahash(df, "doc_id", "payload").collect()}
    assert hashes[1].ahash == hashes[2].ahash          # brightness-invariant
    assert hashes[5].ahash is None and hashes[5].decode_error
    assert hashes[1].ahash != hashes[4].ahash

    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.image_neardup_pairs(df, "doc_id", "payload").collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert all(4 not in p and 5 not in p for p in pairs)


def _wav_mono16(samples, rate=8000):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return bytearray(buf.getvalue())


def test_audio_ahash_gain_invariant_and_neardup_pairs(spark):
    """Envelope fingerprint through the real WAV decode: a 2x gain copy
    hashes identically (threshold at the envelope's own mean), unrelated
    audio does not pair, garbage degrades to an error row."""
    import math
    import random

    rng = random.Random(5)
    base = [int(3000 * math.sin(i / 7)) + rng.randrange(-200, 200) for i in range(4096)]
    loud = [s * 2 for s in base]
    other = [rng.randrange(-8000, 8000) for _ in range(4096)]
    rows = [(1, _wav_mono16(base)), (2, _wav_mono16(loud)),
            (3, _wav_mono16(other)), (4, bytearray(b"mp3???"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = {r.doc_id: r for r in multimodal.audio_ahash(df, "doc_id", "payload").collect()}
    assert hashes[1].ahash == hashes[2].ahash
    assert hashes[4].ahash is None and hashes[4].decode_error
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.audio_neardup_pairs(df, "doc_id", "payload").collect()}
    assert pairs[(1, 2)] == 0 and all(3 not in p and 4 not in p for p in pairs)


def test_video_neardup_pairs_by_shared_frames(spark):
    """Two AVIs sharing >= min_shared_frames byte-identical frames pair
    (re-muxed copies at a different frame rate included); videos with a
    single shared frame or none do not."""
    f = [bytes([i]) * 40 for i in range(8)]
    a = _encode_avi(4, 4, 40000, f[:6])                  # frames 0-5
    b = _encode_avi(4, 4, 20000, f[:6])                  # same frames, re-muxed faster
    c = _encode_avi(4, 4, 40000, [f[0], f[6], f[7]])     # shares only frame 0
    d = _encode_avi(4, 4, 40000, [bytes([99]) * 40])     # disjoint
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b)), (3, bytearray(c)), (4, bytearray(d))],
        "doc_id long, payload binary",
    )
    pairs = {(r.id_a, r.id_b): r.shared_frames
             for r in multimodal.video_neardup_pairs(df, "doc_id", "payload").collect()}
    assert pairs == {(1, 2): 6}
    loose = {(r.id_a, r.id_b): r.shared_frames
             for r in multimodal.video_neardup_pairs(
                 df, "doc_id", "payload", min_shared_frames=1).collect()}
    assert loose[(1, 3)] == 1 and loose[(2, 3)] == 1 and loose[(1, 2)] == 6
    assert all(4 not in p for p in loose)


def _exact_disc_quantile(vals, q):
    s = sorted(vals)
    return s[int(q * (len(s) - 1))]


def test_ddsketch_relative_error_bound(spark):
    """DDSketch estimates land within alpha relative error of the exact
    rank-floor(q*(N-1)) quantile for mixed-sign data, and hit 0 exactly
    when the target is 0 (the dedicated zero cell)."""
    import random

    from mandodb_spark.operators import sketch

    rng = random.Random(7)
    vals = (
        [rng.lognormvariate(0, 2) for _ in range(400)]
        + [-rng.lognormvariate(1, 1) for _ in range(150)]
        + [0.0] * 50
    )
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    alpha = 0.01
    sk = sketch.dds_build(df, "value", alpha)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = {r.q: r.est for r in sketch.dds_quantiles(sk, qs, alpha).collect()}
    assert set(est) == set(qs)
    for q in qs:
        exact = _exact_disc_quantile(vals, q)
        if exact == 0.0:
            assert est[q] == 0.0
        else:
            assert abs(est[q] - exact) <= alpha * 1.001 * abs(exact) + 1e-9, (
                q, est[q], exact)
    # cell count is bounded by geometry (log range / log gamma per sign,
    # + the zero cell), independent of how many input rows land in them
    import math

    g = math.log(sketch.dds_gamma(alpha))
    nonzero = [abs(v) for v in vals if v != 0.0]
    ceiling = 2 * (math.log(max(nonzero) / min(nonzero)) / g + 2) + 1
    assert sk.count() <= ceiling


def test_ddsketch_merge_equals_whole(spark):
    """sketch(A) merged with sketch(B) is cell-for-cell identical to
    sketch(A UNION B) — the mergeability that makes per-segment rollups
    sound — and yields identical quantile estimates."""
    from mandodb_spark.operators import sketch

    a = spark.range(1, 500).select((F.col("id") * 1.5).alias("value"))
    b = spark.range(200, 900).select((F.col("id") * 0.7 - 100).alias("value"))
    whole = sketch.dds_build(a.unionAll(b), "value")
    merged = sketch.dds_merge(sketch.dds_build(a, "value"),
                              sketch.dds_build(b, "value"))
    w = {(r.sgn, r.bucket): r.n for r in whole.collect()}
    m = {(r.sgn, r.bucket): r.n for r in merged.collect()}
    assert w == m
    qs = [0.1, 0.5, 0.9]
    ew = {r.q: r.est for r in sketch.dds_quantiles(whole, qs).collect()}
    em = {r.q: r.est for r in sketch.dds_quantiles(merged, qs).collect()}
    assert ew == em


def test_exact_quantiles_disc_matches_sorted_rank(spark):
    """exact_quantiles_disc (the distributed two-phase rank that replaced
    the corpus-wide row_number window — round-6 verdict #2) returns
    EXACTLY the value at 1-based rank floor(q*(N-1))+1, including q=0/1
    extremes, duplicate-heavy data, and NULLs; and its plan contains no
    unpartitioned window (every Window node keys on the range bucket)."""
    import math
    import random

    from mandodb_spark.operators.sketch import exact_quantiles_disc
    from mandodb_spark.plans import physical_plan

    random.seed(11)
    vals = ([random.uniform(-50, 50) for _ in range(2000)]
            + [7.0] * 500 + [None] * 10)  # heavy ties + nulls
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    qs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = {r["q"]: r["value"]
           for r in exact_quantiles_disc(df, "value", qs).collect()}
    s = sorted(v for v in vals if v is not None)
    for q in qs:
        assert got[q] == s[math.floor(q * (len(s) - 1))], q
    # scale shape: the only windows are per-bucket (partitioned on __bkt)
    plan = physical_plan(exact_quantiles_disc(df, "value", qs))
    for line in plan.splitlines():
        if "Window" in line:
            assert "__bkt" in line, line


def test_exact_quantiles_cont_matches_builtin_percentile(spark):
    """exact_quantiles_cont reproduces Spark's percentile() BIT-FOR-BIT
    (same pos=q*(N-1) floor/ceil interpolation on the same doubles) from
    two rank probes, on random data with heavy ties, on an exactly-
    integral-position size, and on a single row; its plan has no
    percentile aggregate and no unpartitioned window."""
    import random
    import re

    from mandodb_spark.operators.sketch import exact_quantiles_cont
    from mandodb_spark.plans import physical_plan

    random.seed(23)
    qs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    for vals in (
        [random.uniform(-50, 50) for _ in range(1997)] + [7.0] * 300 + [None] * 5,
        [float(i) for i in range(5)],   # q=0.25 lands exactly on rank 2
        [42.5],
    ):
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        got = {r["q"]: r["value"]
               for r in exact_quantiles_cont(df, "value", qs).collect()}
        want = df.agg(*[
            F.expr(f"percentile(value, {q}d)").alias(f"c{i}")
            for i, q in enumerate(qs)
        ]).collect()[0]
        for i, q in enumerate(qs):
            assert got[q] == want[f"c{i}"], (q, got[q], want[f"c{i}"])
    plan = physical_plan(exact_quantiles_cont(df, "value", qs))
    assert not re.search(r"\bpercentile\(", plan), plan
    for line in plan.splitlines():
        if "Window" in line:
            assert "__bkt" in line, line


def test_grouped_quantile_cont_matches_builtin_and_plan(spark):
    """grouped_quantile_cont (the r8 verdict's quantile-by/without fix)
    reproduces a per-group percentile() BIT-FOR-BIT — random data with
    ties, singleton groups, exactly-integral positions — and its plan
    buffers no whole group: no percentile aggregate, every window keyed
    by (group, bucket)."""
    import random
    import re

    from mandodb_spark.operators.sketch import grouped_quantile_cont
    from mandodb_spark.plans import physical_plan

    random.seed(31)
    rows = [(f"g{i % 13}", random.uniform(-50, 50)) for i in range(4000)]
    rows += [("g0", 7.0)] * 250          # heavy ties in one group
    rows += [("solo", 42.5)]             # singleton group
    rows += [(f"g{i}", None) for i in range(3)]  # nulls ignored
    df = spark.createDataFrame(rows, "k string, value double")
    for q in (0.0, 0.25, 0.5, 0.9, 0.99, 1.0):
        got = {r["k"]: r["value"]
               for r in grouped_quantile_cont(df, ["k"], "value", q).collect()}
        want = {r["k"]: r["value"] for r in df.groupBy("k").agg(
            F.expr(f"percentile(value, {q}d)").alias("value")).collect()}
        assert got == want, (q, got, want)
    plan = physical_plan(grouped_quantile_cont(df, ["k"], "value", 0.9))
    assert not re.search(r"\bpercentile\(", plan), plan
    for line in plan.splitlines():
        if "Window" in line:
            assert "__bkt" in line, line
    # carry columns ride the stats aggregate (functionally dependent)
    df2 = df.withColumn("tag", F.concat(F.lit("t-"), F.col("k")))
    out = grouped_quantile_cont(df2, ["k"], "value", 0.5,
                                carry=("tag",)).collect()
    assert all(r["tag"] == f"t-{r['k']}" for r in out)


def test_quantile_sketch_query_plan_has_no_percentile_aggregate(spark):
    """x_tsdb_quantile_sketch (the round-7 verdict's residual weak) no
    longer contains an exact percentile() corpus aggregate anywhere in
    its physical plan — the interpolated value now comes from
    exact_quantiles_cont rank probes (percentile_approx range bounds
    remain, which is the point)."""
    import re

    from mandodb_spark.plans import physical_plan
    from mandodb_spark.workloads.extra_parity import QUERIES

    plan = physical_plan(
        QUERIES["x_tsdb_quantile_sketch"](spark, "/root/testdata/sf0.001"))
    assert not re.search(r"\bpercentile\(", plan), plan
    assert "percentile_approx" in plan  # the range-bound pass is still there


def test_quantile_rollup_materialize_estimate(spark, tmp_path_factory):
    """Seg-partitioned quantile rollup: materialize writes seg= partitions,
    incremental refresh touches only new segs, and range estimates come
    from merged sketches within the alpha bound of the exact quantile of
    the pruned range."""
    from mandodb_spark.operators import sketch

    dest = str(tmp_path_factory.mktemp("ddsq") / "rollup")
    rel = spark.range(0, 3000).select(
        (F.col("id") % 6).alias("seg"),
        (F.pow(F.lit(1.01), F.col("id") % 700) * 10).alias("value"),
    )
    sketch.quantile_materialize(spark, rel.filter(F.col("seg") <= 3), dest)
    import os

    segs = {d for d in os.listdir(dest) if d.startswith("seg=")}
    assert segs == {"seg=0", "seg=1", "seg=2", "seg=3"}
    # incremental: add segs 4-5, refresh from watermark
    sketch.quantile_materialize(spark, rel, dest, incremental=True)
    segs = {d for d in os.listdir(dest) if d.startswith("seg=")}
    assert segs == {f"seg={i}" for i in range(6)}
    qs = [0.5, 0.95]
    est = {r.q: r.est for r in
           sketch.quantile_estimate(spark, dest, 1, 4, qs).collect()}
    vals = [r.value for r in rel.filter(F.col("seg").between(1, 4)).collect()]
    for q in qs:
        exact = _exact_disc_quantile(vals, q)
        assert abs(est[q] - exact) <= 0.011 * abs(exact), (q, est[q], exact)


def test_binary_quantize_packs_sign_bits(spark):
    """Packed code has ceil(dim/32) words, popcount == #positive dims, and
    hamming == #dims whose signs differ (python reference check)."""
    from mandodb_spark.operators import similarity

    vecs = {
        1: [0.5, -1.0, 0.0, 2.0, -0.1, 3.0, -4.0, 0.01] * 5,   # dim 40
        2: [-0.5, 1.0, 0.0, 2.0, 0.1, -3.0, 4.0, -0.01] * 5,
    }
    df = spark.createDataFrame([(i, v) for i, v in vecs.items()],
                               "vec_id long, embedding array<double>")
    coded = df.select(
        "vec_id",
        similarity.binary_quantize(F.col("embedding"), 40).alias("code"),
    )
    rows = {r.vec_id: r.code for r in coded.collect()}
    assert all(len(c) == 2 for c in rows.values())  # ceil(40/32)
    for i, v in vecs.items():
        assert sum(bin(w).count("1") for w in rows[i]) == sum(x > 0 for x in v)
    hd = (
        coded.alias("a").crossJoin(coded.alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(similarity.hamming(F.col("a.code"), F.col("b.code")).alias("hd"))
        .first().hd
    )
    expect = sum((x > 0) != (y > 0) for x, y in zip(vecs[1], vecs[2]))
    assert hd == expect
    # self-distance is zero
    assert (
        coded.select(similarity.hamming(F.col("code"), F.col("code")).alias("z"))
        .agg(F.max("z")).first()[0] == 0
    )


def test_binary_topk_recall_against_exact(spark):
    sf_dir = "/root/testdata/sf0.01"
    """Hamming-candidate + cosine-re-rank recovers most of the exact
    cosine top-k on the real embeddings table — the recall/compression
    trade the 32x binary mode exists for."""
    from mandodb_spark.operators import similarity
    from mandodb_spark.workloads.common import load

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    exact = {r.vec_id for r in
             similarity.cosine_topk(emb, "vec_id", "embedding", q, 10).collect()}
    approx = {r.vec_id for r in
              similarity.binary_topk(emb, "vec_id", "embedding", q, 10,
                                     dim=64, rerank=40).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_skew_report_measures_heavy_keys(spark):
    """skew_report surfaces the heaviest keys with exact shares and the
    global shape stats, and fails fast on a key column that doesn't
    exist (Spark would otherwise resolve e.g. 'user' to current_user()
    and silently collapse the report)."""
    import pytest as _pytest

    from mandodb_spark.operators.profile import skew_report

    rows = [("hot", i) for i in range(80)] + \
           [("warm", i) for i in range(15)] + \
           [(f"cold{i}", i) for i in range(5)]
    df = spark.createDataFrame(rows, "key string, v long")
    out = skew_report(df, ["key"], top_n=3).collect()
    assert [r.key for r in out] == ["hot", "warm", "cold0"]
    top = out[0]
    assert top.n == 80 and abs(top.share - 0.8) < 1e-9
    assert top.n_keys == 7  # hot, warm, 5 cold
    assert abs(top.skew_ratio - 80 / (100 / 7)) < 1e-3
    assert top.p50_n == 1.0  # median key is a singleton
    with _pytest.raises(ValueError, match="not in relation"):
        skew_report(df, ["user"], top_n=3)


def test_asof_join_backward_forward_tolerance(spark):
    from mandodb_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 205), (3, "a", 50), (4, "b", 100), (5, "c", 10)],
        "lid long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("a", 100, 1.0), ("a", 200, 2.0), ("b", 90, 3.0), ("b", 300, 4.0)],
        "k string, ts long, v double",
    )
    back = {
        r.lid: (r.v, r.mts)
        for r in asof_join(
            left, right, on=["k"], right_cols=["v"], matched_ts_col="mts"
        ).collect()
    }
    # inclusive at-or-before; no match -> nulls kept (left join)
    assert back == {
        1: (1.0, 100),   # exact-ts match is inclusive
        2: (2.0, 200),
        3: (None, None), # before any right row
        4: (3.0, 90),
        5: (None, None), # key absent on the right
    }

    fwd = {
        r.lid: r.v
        for r in asof_join(
            left, right, on=["k"], right_cols=["v"], direction="forward"
        ).collect()
    }
    assert fwd == {1: 1.0, 2: None, 3: 1.0, 4: 4.0, 5: None}

    tol = {
        r.lid: r.v
        for r in asof_join(
            left, right, on=["k"], right_cols=["v"], tolerance=10
        ).collect()
    }
    assert tol == {1: 1.0, 2: 2.0, 3: None, 4: 3.0, 5: None}

    inner = sorted(
        r.lid
        for r in asof_join(
            left, right, on=["k"], right_cols=["v"], how="inner", tolerance=5
        ).collect()
    )
    assert inner == [1, 2]  # lid=4 gap 10 > 5 dropped under inner


def test_asof_join_matches_duckdb_native(spark):
    """Random-data cross-check against DuckDB's native ASOF JOIN."""
    import random

    import duckdb

    from mandodb_spark.operators.temporal import asof_join

    rng = random.Random(1234)
    lrows = [(i, rng.randrange(4), rng.randrange(1000)) for i in range(300)]
    rrows = [(rng.randrange(4), t, float(i)) for i, t in enumerate(
        rng.sample(range(1000), 120)
    )]
    # make the right side unique per (k, ts): sample() already gives unique ts
    left = spark.createDataFrame(lrows, "lid long, k long, ts long")
    right = spark.createDataFrame(rrows, "k long, ts long, v double")
    got = {
        r.lid: (r.v, r.mts)
        for r in asof_join(
            left, right, on=["k"], right_cols=["v"], matched_ts_col="mts"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE l(lid BIGINT, k BIGINT, ts BIGINT)")
    con.execute("CREATE TABLE r(k BIGINT, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", lrows)
    con.executemany("INSERT INTO r VALUES (?,?,?)", rrows)
    want = {
        lid: (v, mts)
        for lid, v, mts in con.execute(
            "SELECT l.lid, r.v, r.ts FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.ts >= r.ts"
        ).fetchall()
    }
    assert got == want


def test_rrf_fuse_known_values(spark):
    from mandodb_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (1, 2), (4, 3)], "doc_id long, rank long")
    got = {r.doc_id: (r.rrf_score, r.rank) for r in rrf_fuse([a, b], "doc_id", k=3).collect()}
    s1 = round(1 / 61 + 1 / 62, 6)   # doc 1: rank1 in a, rank2 in b
    s3 = round(1 / 63 + 1 / 61, 6)   # doc 3: rank3 in a, rank1 in b
    s2 = round(1 / 62, 6)            # doc 2: only in a
    assert got == {1: (s1, 1), 3: (s3, 2), 2: (s2, 3)}
    assert 4 not in got              # k=3 cut; doc 4 scores below doc 2


def test_jaccard_join_exact_vs_bruteforce(spark):
    """Prefix filtering must be LOSSLESS: compare against all-pairs exact
    Jaccard on random near-dup-seeded docs, several thresholds."""
    import random

    from mandodb_spark.operators.dedup import jaccard_join

    rng = random.Random(77)
    words = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        base = " ".join(rng.choices(words, k=rng.randrange(8, 30)))
        docs.append((i, base))
        if rng.random() < 0.4:  # plant a near-dup with light edits
            toks = base.split()
            for _ in range(rng.randrange(0, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(words)
            docs.append((1000 + i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    from mandodb_spark.operators.dedup import shingle_sets
    sh = {r.doc_id: set() for r in df.collect()}
    for r in shingle_sets(df, "doc_id", "text", 8, 4).collect():
        sh[r.doc_id].add(r.sh)
    for t in (0.3, 0.5, 0.8):
        ids = sorted(sh)
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sh[a] & sh[b])
                j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 4)
                if j >= t:
                    want.add((a, b))
        got = {(r.id_a, r.id_b) for r in
               jaccard_join(df, "doc_id", "text", t).collect()}
        assert got == want, f"threshold {t}: {got ^ want}"


def test_jaccard_join_threshold_validation(spark):
    import pytest as _pytest

    from mandodb_spark.operators.dedup import jaccard_join

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="threshold"):
        jaccard_join(df, "doc_id", "text", 0.0)
    with _pytest.raises(ValueError, match="threshold"):
        jaccard_join(df, "doc_id", "text", 1.5)


def test_jaccard_join_broadcast_threshold_fallback():
    """The verify-side broadcast cap reads autoBroadcastJoinThreshold
    ("64MB", "-1" = disabled); an unparseable value falls back to
    Spark's own 10 MB default, never to anything larger."""
    from types import SimpleNamespace

    from mandodb_spark.operators.dedup import _broadcast_threshold

    def session(value):
        return SimpleNamespace(conf=SimpleNamespace(get=lambda key: value))

    assert _broadcast_threshold(session("not-a-size")) == 10 * 1024 * 1024
    assert _broadcast_threshold(session("64MB")) == 64 * 1024 * 1024
    assert _broadcast_threshold(session("10485760b")) == 10 * 1024 * 1024
    assert _broadcast_threshold(session("-1")) == -1


def test_weighted_sample_ares_properties(spark):
    """A-Res determinism, exclusion of bad weights, and weight monotonicity:
    with equal uniforms forced impossible, check statistically that heavier
    rows are picked far more often across salts."""
    import pytest as _pytest

    from mandodb_spark.operators.sampling import weighted_sample

    rows = [(i, 100.0 if i < 5 else 1.0) for i in range(100)]
    rows += [(200, None), (201, 0.0), (202, -3.0)]
    df = spark.createDataFrame(rows, "id long, w double")

    got1 = sorted(r.id for r in weighted_sample(df, "id", "w", 10).collect())
    got2 = sorted(r.id for r in weighted_sample(df, "id", "w", 10).collect())
    assert got1 == got2 and len(got1) == 10          # deterministic, exact k
    assert not {200, 201, 202} & set(got1)           # bad weights excluded

    # heavy ids (5 rows, weight 100) should dominate the top-10 across salts
    heavy_hits = 0
    for s in range(8):
        ids = {r.id for r in weighted_sample(df, "id", "w", 10, salt=f"s{s}").collect()}
        heavy_hits += len(ids & {0, 1, 2, 3, 4})
    assert heavy_hits >= 30  # E[hits] ≈ 5·8 = 40; far above uniform ≈ 4

    with _pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, "id", "w", 0)


def test_weighted_sample_matches_duckdb(spark):
    import duckdb

    from mandodb_spark.operators.sampling import weighted_sample, weighted_sample_sql

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = sorted(r.id for r in weighted_sample(df, "id", "w", 25).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    want = sorted(r[0] for r in con.execute(
        weighted_sample_sql("t", "id", "w", 25)).fetchall())
    assert got == want


def test_seasonal_decompose_recovers_planted_cycle(spark):
    """Flat trend + planted 4-bucket cycle: seasonal should recover the
    cycle shape (re-centered), resid ~0 away from the rolling-mean edges,
    and value == trend + seasonal + resid exactly (by construction)."""
    from mandodb_spark.operators.temporal import seasonal_decompose

    pattern = {0: 2.0, 10: -1.0, 20: -2.0, 30: 1.0}  # sums to 0
    rows = [("s", t, 10.0 + pattern[(t % 40)]) for t in range(0, 40 * 12, 10)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    out = seasonal_decompose(df, ["k"], "ts", "v", step=10, period=40,
                             trend_buckets=2).collect()
    assert len(out) == 48
    for r in out:
        assert abs(r.value - (r.trend + r.seasonal + r.resid)) < 1e-9
    # interior buckets: the 5-bucket rolling mean of a 4-cycle isn't flat,
    # but seasonal phase means should still track the planted pattern's
    # ordering (phase 0 highest, phase 20 lowest)
    by_phase = {}
    for r in out[4:-4]:
        by_phase.setdefault(r.bucket_ts % 40, []).append(r.seasonal)
    means = {p: sum(v) / len(v) for p, v in by_phase.items()}
    assert means[0] == max(means.values()) and means[20] == min(means.values())
    # a strictly flat series decomposes to zero seasonal and zero resid
    flat = spark.createDataFrame([("s", t, 5.0) for t in range(0, 200, 10)],
                                 "k string, ts long, v double")
    for r in seasonal_decompose(flat, ["k"], "ts", "v", 10, 40).collect():
        assert r.seasonal == 0.0 and r.resid == 0.0 and r.trend == 5.0


def test_asof_join_null_timestamps_never_match(spark):
    from mandodb_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", None)], "lid long, k string, ts long"
    )
    right = spark.createDataFrame(
        [("a", 50, 1.0), ("a", None, 99.0)], "k string, ts long, v double"
    )
    got = {r.lid: r.v for r in
           asof_join(left, right, on=["k"], right_cols=["v"]).collect()}
    # NULL-ts right row never matches; NULL-ts left row gets no match but
    # survives the left join
    assert got == {1: 1.0, 2: None}
    fwd = {r.lid: r.v for r in
           asof_join(left, right, on=["k"], right_cols=["v"],
                     direction="forward").collect()}
    assert fwd == {1: None, 2: None}


def test_weighted_sample_per_group_matches_duckdb(spark):
    import duckdb

    from mandodb_spark.operators.sampling import weighted_sample, weighted_sample_sql

    rows = [(i, "g" + str(i % 3), float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    out = weighted_sample(df, "id", "w", 5, by=["grp"]).collect()
    per = {}
    for r in out:
        per.setdefault(r.grp, []).append(r.id)
    assert sorted(per) == ["g0", "g1", "g2"] and all(len(v) == 5 for v in per.values())
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, grp VARCHAR, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = sorted(r[0] for r in con.execute(
        weighted_sample_sql("t", "id", "w", 5, by=["grp"])).fetchall())
    assert sorted(r.id for r in out) == want


def test_cusum_closed_form_matches_recursion_and_detects_shift(spark):
    """The prefix-sum closed form must equal the textbook recursion
    exactly, and a planted mean shift must alarm only after the shift."""
    import random

    from mandodb_spark.operators.temporal import cusum_changepoints

    rng = random.Random(42)
    vals = [rng.gauss(0, 1) for _ in range(60)] + [rng.gauss(3, 1) for _ in range(40)]
    rows = [("s", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    out = sorted(cusum_changepoints(df, ["k"], "ts", "v").collect(),
                 key=lambda r: r.ts)

    # reference recursion with identical parameterization
    n = len(vals)
    mu = sum(vals) / n
    sigma = (sum((x - mu) ** 2 for x in vals) / n) ** 0.5
    k, h = 0.5 * sigma, 4.0 * sigma
    su = sd = 0.0
    for r, x in zip(out, vals):
        su = max(0.0, su + (x - mu - k))
        sd = max(0.0, sd - (x - mu) - k)
        assert abs(r.cusum_up - su) < 1e-5 and abs(r.cusum_dn - sd) < 1e-5
        assert r.alarm == (su > h or sd > h)

    # detection latency with a CALIBRATED baseline (target/sigma from the
    # pre-shift regime): fires shortly after the shift, never before
    cal = sorted(
        cusum_changepoints(df, ["k"], "ts", "v", target=0.0, sigma=1.0).collect(),
        key=lambda r: r.ts,
    )
    first_alarm = min(r.ts for r in cal if r.alarm)
    assert 60 <= first_alarm <= 70
    assert not any(r.alarm for r in cal if r.ts < 60)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="together"):
        cusum_changepoints(df, ["k"], "ts", "v", target=0.0)

    # flat series never alarms (sigma = 0)
    flat = spark.createDataFrame([("s", t, 1.0) for t in range(20)],
                                 "k string, ts long, v double")
    assert not any(r.alarm for r in cusum_changepoints(flat, ["k"], "ts", "v").collect())


def test_temperature_rates_known_values(spark):
    from mandodb_spark.operators.sampling import temperature_rates

    rows = [(i, "big") for i in range(900)] + [(i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, grp string")
    got = {r.grp: (r.n_rows, r.target_rows, r.rate) for r in
           temperature_rates(df, "grp", 0.5, 100).collect()}
    z = 900 ** 0.5 + 100 ** 0.5
    assert got["big"][0] == 900 and got["small"][0] == 100
    assert abs(got["big"][1] - 100 * 900 ** 0.5 / z) < 1e-4
    assert abs(got["small"][1] - 100 * 100 ** 0.5 / z) < 1e-4
    # alpha=0.5 upweights the small group relative to natural proportions
    assert got["small"][1] / 100 > got["big"][1] / 900
    # alpha=1 reproduces natural proportions exactly (rate equal across groups)
    nat = {r.grp: r.rate for r in temperature_rates(df, "grp", 1.0, 100).collect()}
    assert abs(nat["big"] - nat["small"]) < 1e-9
    import pytest as _pytest
    with _pytest.raises(ValueError, match="alpha"):
        temperature_rates(df, "grp", -1.0, 100)


def test_psi_report_detects_shift_and_identity(spark):
    from mandodb_spark.operators.profile import psi_report

    a = spark.createDataFrame([(float(i % 10),) for i in range(1000)], "v double")
    b = spark.createDataFrame([(float(i % 10) + 4.0,) for i in range(1000)], "v double")
    edges = [2.0, 4.0, 6.0, 8.0]
    same = psi_report(a, a, "v", edges).collect()
    assert abs(sum(r.psi_term for r in same)) < 1e-9           # identical -> PSI 0
    shifted = psi_report(a, b, "v", edges).collect()
    assert sum(r.psi_term for r in shifted) > 0.25             # gross shift flagged
    # NULLs bucketed, not dropped
    withnull = spark.createDataFrame([(None,), (1.0,)], "v double")
    rows = {r.bucket: r.n_actual for r in psi_report(a, withnull, "v", edges).collect()}
    assert rows[-1] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError, match="increasing"):
        psi_report(a, b, "v", [2.0, 1.0])


def test_hash_split_fractions_stability_and_validation(spark):
    import pytest as _pytest

    from mandodb_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(10000)], "id long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r.id: r.split for r in hash_split(df, "id", fr).collect()}
    n = len(got)
    from collections import Counter
    c = Counter(got.values())
    assert abs(c["train"] / n - 0.8) < 0.02
    assert abs(c["val"] / n - 0.1) < 0.01
    assert abs(c["test"] / n - 0.1) < 0.01
    # stability under growth: the first 1000 keys keep their labels when
    # the table grows 10x (hash-based, not rank/modulo-based)
    small = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    sub = {r.id: r.split for r in hash_split(small, "id", fr).collect()}
    assert all(got[i] == sub[i] for i in range(1000))
    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "id", {"a": 0.5, "b": 0.4})
    with _pytest.raises(ValueError, match="non-negative"):
        hash_split(df, "id", {"a": 1.5, "b": -0.5})


# ---------------------------------------------------------------- chunking

def _chunk_df(spark):
    rows = [
        (1, "a b c d e f g"),          # 7 tokens
        (2, "x"),                      # 1 token -> single chunk
        (3, None),                     # no chunks
        (4, " ".join(f"t{i}" for i in range(12))),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_documents_windowing_rule(spark):
    from mandodb_spark.operators.text import chunk_documents

    out = chunk_documents(_chunk_df(spark), "doc_id", "text",
                          chunk_size=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc  # NULL text -> no chunks
    assert [r.chunk_text for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)] == [
        "a b c d", "d e f g"
    ]
    assert [r.chunk_text for r in by_doc[2]] == ["x"]
    # 12 tokens, size 4, stride 3 -> ceil((12-4)/3)+1 = 4 chunks;
    # starts 0,3,6,9; last chunk short (3 tokens) but reaches token 12
    c4 = sorted(by_doc[4], key=lambda r: r.chunk_idx)
    assert len(c4) == 4
    assert c4[-1].chunk_text == "t9 t10 t11"
    assert all(r.n_tokens <= 4 for r in c4)
    assert [r.chunk_id for r in c4] == ["4#0", "4#1", "4#2", "4#3"]
    # overlap invariant: each chunk's first `overlap` tokens equal the
    # previous chunk's last `overlap` tokens (full-size chunks)
    for prev, cur in zip(c4, c4[1:]):
        if prev.n_tokens == 4:
            assert prev.chunk_text.split()[-1:] == cur.chunk_text.split()[:1]


def test_chunk_documents_no_overlap_reconstructs(spark):
    from mandodb_spark.operators.text import chunk_documents

    src = _chunk_df(spark).filter("text is not null")
    out = chunk_documents(src, "doc_id", "text", chunk_size=5, overlap=0)
    # driver-side reconstruction (tiny test data): with overlap=0 the
    # chunks concatenate back to the exact original text
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    acc = {}
    for r in rows:
        acc.setdefault(r.doc_id, []).append(r.chunk_text)
    got = {k: " ".join(v) for k, v in acc.items()}
    want = {r.doc_id: r.text for r in src.collect()}
    assert got == want


def test_chunk_documents_duckdb_parity(spark):
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from oracle_check import compare

    from mandodb_spark.operators.text import chunk_documents, chunk_documents_sql

    pdf = _chunk_df(spark).toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    duck = con.execute(
        chunk_documents_sql("docs", "doc_id", "text", 4, 1)
    ).df()
    got = chunk_documents(_chunk_df(spark), "doc_id", "text", 4, 1).toPandas()
    assert compare("chunks", got, duck) == []


def test_chunk_documents_rejects_bad_params(spark):
    from mandodb_spark.operators.text import chunk_documents

    df = _chunk_df(spark)
    for cs, ov in ((0, 0), (4, 4), (4, -1)):
        try:
            chunk_documents(df, "doc_id", "text", cs, ov)
            assert False, "expected ValueError"
        except ValueError:
            pass


# ---------------------------------------------------------- snapshot diff

def test_snapshot_diff_statuses(spark):
    from mandodb_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "C", 30), (4, "x", 40), (5, "e", 50)],
        "k long, s string, v long",
    )
    rows = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows[1].status == "removed" and rows[1].changed_cols == ""
    assert 2 not in rows                      # NULL == NULL -> unchanged
    assert rows[3].status == "changed" and rows[3].changed_cols == "s"
    assert rows[4].status == "changed" and rows[4].changed_cols == "s"  # NULL -> 'x'
    assert rows[5].status == "added" and rows[5].changed_cols == ""
    # include_unchanged surfaces row 2
    all_rows = {r.k: r for r in
                snapshot_diff(old, new, ["k"], include_unchanged=True).collect()}
    assert all_rows[2].status == "unchanged"


def test_snapshot_diff_multi_changed_cols(spark):
    from mandodb_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame([(1, "a", 1)], "k long, s string, v long")
    new = spark.createDataFrame([(1, "b", 2)], "k long, s string, v long")
    (r,) = snapshot_diff(old, new, ["k"]).collect()
    assert r.status == "changed" and r.changed_cols == "s,v"


def test_snapshot_diff_single_shuffle_plan(spark):
    """The diff is ONE full-outer SortMergeJoin — no window, no extra
    exchange beyond the two join-side shuffles."""
    from mandodb_spark.operators.profile import snapshot_diff

    old = spark.range(100).selectExpr("id as k", "cast(id as string) s")
    new = spark.range(50, 150).selectExpr("id as k", "cast(id as string) s")
    plan = snapshot_diff(old, new, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan and "Window" not in plan


# ---------------------------------------------------------- filtered ANN

def _toy_vecs(spark):
    import math
    rows = []
    for i in range(40):
        ang = i / 40 * math.pi
        rows.append((i, [math.cos(ang), math.sin(ang)], i % 3))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_filtered_topk_exact_equals_manual(spark):
    from mandodb_spark.operators.similarity import cosine_topk, filtered_topk

    df = _toy_vecs(spark)
    q = df.filter("vec_id = 0").select(F.col("embedding").alias("qe"))
    pred = F.col("label") == 1
    got = filtered_topk(df, "vec_id", "embedding", q, k=5,
                        predicate=pred, method="exact").collect()
    want = cosine_topk(df.filter(pred), "vec_id", "embedding", q, 5).collect()
    assert got == want
    assert all(r.vec_id % 3 == 1 for r in got)


def test_filtered_topk_ivf_full_probe_equals_exact(spark):
    """Post-filter IVF with every cell probed must equal the exact
    pre-filter result (recall=1 bound of the overprobe law)."""
    from mandodb_spark.operators.similarity import filtered_topk

    df = _toy_vecs(spark)
    q = df.filter("vec_id = 0").select(F.col("embedding").alias("qe"))
    pred = F.col("label") != 2
    exact = filtered_topk(df, "vec_id", "embedding", q, k=4,
                          predicate=pred, method="exact").collect()
    ivf = filtered_topk(df, "vec_id", "embedding", q, k=4, predicate=pred,
                        method="ivf", n_cells=4, n_probe=4).collect()
    assert ivf == exact


def test_filtered_topk_unknown_method(spark):
    from mandodb_spark.operators.similarity import filtered_topk

    df = _toy_vecs(spark)
    q = df.filter("vec_id = 0").select(F.col("embedding").alias("qe"))
    try:
        filtered_topk(df, "vec_id", "embedding", q, 3, F.lit(True), method="hnsw")
        assert False, "expected ValueError"
    except ValueError:
        pass


# ------------------------------------------------------------- burn rate

def test_burn_rate_alert_multiwindow_semantics(spark):
    from mandodb_spark.operators.temporal import burn_rate_alert

    # 4 buckets of width 10; bucket 2 missing (outage gap); errors spike
    # in buckets 1 and 3.
    rows = []
    for b, (n, e) in {0: (10, 0), 1: (10, 8), 3: (10, 8)}.items():
        for i in range(n):
            rows.append((b * 10 + i % 10, i < e))
    df = spark.createDataFrame(rows, "ts long, is_err boolean")
    out = {
        r.bucket_ts: r
        for r in burn_rate_alert(df, "ts", F.col("is_err"), 10, 20,
                                 slo=0.5, threshold=1.0).collect()
    }
    # budget 0.5: bucket 0 short_burn 0; bucket 1 short 1.6, long over
    # [b0,b1] = 8/20/0.5 = 0.8 -> NOT firing (long window vetoes the spike)
    assert out[0].firing is False
    assert abs(out[10].short_burn - 1.6) < 1e-9
    assert abs(out[10].long_burn - 0.8) < 1e-9 and out[10].firing is False
    # bucket 3: the RANGE frame is value-based, so the missing bucket 2
    # leaves only bucket 3 itself in the trailing 20s -> long == short,
    # both 1.6 -> firing
    assert abs(out[30].long_burn - 1.6) < 1e-9 and out[30].firing is True


def test_burn_rate_alert_validations(spark):
    from mandodb_spark.operators.temporal import burn_rate_alert

    df = spark.createDataFrame([(0, True)], "ts long, is_err boolean")
    for args in ((10, 15, 0.5), (10, 20, 0.0), (10, 20, 1.0), (20, 10, 0.5)):
        try:
            burn_rate_alert(df, "ts", F.col("is_err"), *args)
            assert False, "expected ValueError"
        except ValueError:
            pass


# ----------------------------------------------------------- band energy

def _sine_wav(freq: float, rate: int = 8000, seconds: float = 0.25) -> bytes:
    import io
    import math
    import struct
    import wave

    n = int(rate * seconds)
    frames = b"".join(
        struct.pack("<h", int(12000 * math.sin(2 * math.pi * freq * i / rate)))
        for i in range(n)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_band_energy_localizes_pure_tones(spark):
    from mandodb_spark.operators.multimodal import audio_band_energy

    # 8 bands over [0, 4000): 500 Hz -> band 1, 2500 Hz -> band 5
    rows = [(1, _sine_wav(500.0)), (2, _sine_wav(2500.0)), (3, b"not audio")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in
           audio_band_energy(df, "doc_id", "payload", n_bands=8).collect()}
    assert out[1].dominant_band == 1 and out[1].band_energy[1] > 0.95
    assert out[2].dominant_band == 5 and out[2].band_energy[5] > 0.95
    assert abs(out[1].spectral_centroid_hz - 500.0) < 25.0
    assert abs(out[2].spectral_centroid_hz - 2500.0) < 25.0
    assert sum(out[1].band_energy) == pytest.approx(1.0, abs=1e-4)
    assert out[3].decode_error is not None and out[3].band_energy is None


def test_audio_band_energy_empty_and_stereo(spark):
    import io
    import wave

    from mandodb_spark.operators.multimodal import audio_band_energy

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"")
    empty = buf.getvalue()
    # stereo: same 500 Hz tone duplicated into L/R -> mono mix identical
    import math
    import struct

    rate, n = 8000, 2000
    frames = b"".join(
        struct.pack("<hh", *(int(12000 * math.sin(2 * math.pi * 500 * i / rate)),) * 2)
        for i in range(n)
    )
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    df = spark.createDataFrame(
        [(1, empty), (2, buf2.getvalue())], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in
           audio_band_energy(df, "doc_id", "payload", n_bands=8).collect()}
    assert out[1].n_samples == 0 and out[1].dominant_band is None
    assert out[1].band_energy == [0.0] * 8 and out[1].decode_error is None
    assert out[2].dominant_band == 1


def test_exact_dedup_best_argmax_and_tiebreak(spark):
    from mandodb_spark.operators.dedup import exact_dedup_best

    df = spark.createDataFrame(
        [(1, "k1", 5.0), (2, "k1", 9.0), (3, "k1", 9.0),
         (4, "k2", -2.0), (5, "k3", 0.0)],
        "id long, fp0 string, q double",
    )
    out = {r.fp: r for r in
           exact_dedup_best(df, "id", F.col("fp0"), F.col("q")).collect()}
    assert out["k1"].keep_id == 2 and out["k1"].best_order == 9.0  # tie -> min id
    assert out["k1"].n_docs == 3
    assert out["k2"].keep_id == 4 and out["k2"].best_order == -2.0
    assert out["k3"].keep_id == 5
    # single-shuffle partial+final aggregate (sort-based — struct min),
    # never a Window over all rows; the count rides the same aggregate
    plan = exact_dedup_best(df, "id", F.col("fp0"), F.col("q"))\
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_min" in plan  # map-side combine before the exchange


# ------------------------------------------------------- funnel / cohort

def test_funnel_ordered_semantics(spark):
    from mandodb_spark.operators.temporal import funnel

    rows = [
        # u1 completes a->b->c in order
        (1, 10, "a"), (1, 20, "b"), (1, 30, "c"),
        # u2 has b BEFORE a -> reaches a only (b at 5 precedes a-time 15)
        (2, 5, "b"), (2, 15, "a"),
        # u3 completes a->b but c is outside max_span
        (3, 0, "a"), (3, 50, "b"), (3, 5000, "c"),
        # u4 never does a
        (4, 10, "b"), (4, 20, "c"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, s string")
    out = {r.step: r for r in
           funnel(df, "u", "t", "s", ["a", "b", "c"], max_span=100).collect()}
    assert out["a"].n_users == 3 and out["a"].step_idx == 0
    assert out["b"].n_users == 2          # u1, u3 (u2's b precedes its a)
    assert out["c"].n_users == 1          # u1 only (u3's c beyond span)
    # u1 reaches c at t=30, 20s after its a at t=10 -> 20/3600 h
    assert out["c"].avg_hours_from_start == round(20 / 3600.0, 3)


def test_funnel_earliest_completion_not_inflated(spark):
    from mandodb_spark.operators.temporal import funnel

    # u1: a@10, b@5 (before a, ignored), b@40 -> reach b at 40
    rows = [(1, 10, "a"), (1, 5, "b"), (1, 40, "b")]
    df = spark.createDataFrame(rows, "u long, t long, s string")
    out = {r.step: r for r in funnel(df, "u", "t", "s", ["a", "b"]).collect()}
    assert out["b"].n_users == 1
    assert out["b"].avg_hours_from_start == round(30 / 3600.0, 3)


def test_cohort_retention_triangle(spark):
    from mandodb_spark.operators.temporal import cohort_retention

    B = 100
    rows = [
        # cohort 0: u1 active periods 0,1,2; u2 periods 0,2
        (1, 10), (1, 150), (1, 250), (2, 50), (2, 290),
        # cohort 1: u3 active periods 1,3
        (3, 120), (3, 350),
    ]
    df = spark.createDataFrame(rows, "u long, t long")
    out = {(r.cohort_ts, r.period_k): r for r in
           cohort_retention(df, "u", "t", bucket=B).collect()}
    assert out[(0, 0)].n_users == 2 and out[(0, 0)].retention == 1.0
    assert out[(0, 1)].n_users == 1 and out[(0, 1)].retention == 0.5
    assert out[(0, 2)].n_users == 2
    assert out[(100, 0)].n_users == 1
    assert out[(100, 2)].n_users == 1     # u3 returns 2 periods after joining
    assert (100, 1) not in out


# --------------------------------------------------------------- pagerank

def _pagerank_numpy(edge_list, n_iter, d):
    import numpy as np

    nodes = sorted({u for e in edge_list for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    out = {u: 0 for u in nodes}
    for s, _ in edge_list:
        out[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[idx[u]] for u in nodes if out[u] == 0)
        nxt += d * dangling / n
        for s, t in edge_list:
            nxt[idx[t]] += d * r[idx[s]] / out[s]
        r = nxt
    return {u: r[idx[u]] for u in nodes}


def test_pagerank_matches_power_iteration_with_dangling(spark):
    from mandodb_spark.operators.graph import pagerank

    # directed graph with a dangling node (4) and a hub (1)
    edge_list = [(0, 1), (2, 1), (3, 1), (1, 4), (0, 2), (2, 0)]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, n_iter=12).collect()}
    want = _pagerank_numpy(edge_list, 12, 0.85)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)
    # the hub and its sole successor (which inherits the hub's whole
    # rank) dominate the periphery
    assert min(got[1], got[4]) > max(got[0], got[2], got[3])


def test_pagerank_undirected_symmetry_and_dedup(spark):
    from mandodb_spark.operators.graph import pagerank

    # duplicate edges + self-loop must not change the result; path graph
    # 0-1-2 undirected -> middle node highest
    df = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 2), (2, 2)], "src long, dst long"
    )
    got = {r.node: r.rank for r in
           pagerank(df, n_iter=15, undirected=True).collect()}
    assert got[1] > got[0] and got[1] > got[2]
    assert got[0] == pytest.approx(got[2], abs=1e-9)  # symmetric ends
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_and_k_core_hold_one_checkpoint_whatever_the_rounds(spark):
    """Only the checkpoint backing the result outlives pagerank / k_core:
    every earlier round's checkpoint is released, so the retained count
    does not grow with ``n_iter`` or with the peel depth."""
    from mandodb_spark.operators.graph import k_core, pagerank

    sc = spark.sparkContext
    persistent = lambda: set(sc._jsc.getPersistentRDDs().keySet())  # noqa: E731
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "src long, dst long")
    held = {}
    for name, run in [("pagerank-2", lambda: pagerank(df, n_iter=2)),
                      ("pagerank-8", lambda: pagerank(df, n_iter=8)),
                      ("k_core-triangle", lambda: k_core(df, 2)),
                      ("k_core-chain", lambda: k_core(chain, 2))]:
        before = persistent()
        run().collect()
        held[name] = len(persistent() - before)
    assert held == {"pagerank-2": 1, "pagerank-8": 1,
                    "k_core-triangle": 1, "k_core-chain": 1}


#: A 3-clique with a tail and a 5-clique: coreness peels them over two
#: and four rungs, each rung a multi-round k_core.
_GRAPHS = {
    "clique3-tail": [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],
    "clique5": [(i, j) for i in range(5) for j in range(i + 1, 5)],
}


@pytest.mark.parametrize("op,graph", [
    *[("coreness", g) for g in _GRAPHS], ("triangle_count", "clique5"),
])
def test_graph_operators_retain_at_most_one_checkpoint(spark, op, graph):
    """coreness (through k_core's checkpoint ids) and triangle_count
    release every intermediate checkpoint: a call leaves at most the one
    behind its result, as pagerank and k_core do above."""
    from mandodb_spark.operators import graph as g

    sc = spark.sparkContext
    persistent = lambda: set(sc._jsc.getPersistentRDDs().keySet())  # noqa: E731
    df = spark.createDataFrame(_GRAPHS[graph], "src long, dst long")
    before = persistent()
    out = sorted(tuple(r) for r in getattr(g, op)(df).collect())
    assert len(persistent() - before) <= 1
    assert out == {
        ("coreness", "clique3-tail"): [(0, 2), (1, 2), (2, 2), (3, 1), (4, 1)],
        ("coreness", "clique5"): [(i, 4) for i in range(5)],
        ("triangle_count", "clique5"): [(5, 10, 10)],
    }[(op, graph)]


def test_pagerank_validations(spark):
    from mandodb_spark.operators.graph import pagerank

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    for kw in ({"n_iter": 0}, {"damping": 0.0}, {"damping": 1.0}):
        try:
            pagerank(df, **kw)
            assert False, "expected ValueError"
        except ValueError:
            pass


# ------------------------------------------------------------------ lttb

def test_lttb_keeps_spikes_and_endpoints(spark):
    import math

    from mandodb_spark.operators.temporal import lttb_downsample

    # flat series with one huge spike mid-bucket; plus a sine series
    rows = [("flat", t, 100.0 + (500.0 if t == 47 else 0.0)) for t in range(100)]
    rows += [("sine", t, math.sin(t / 8.0) * 10) for t in range(100)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    out = lttb_downsample(df, ["k"], "ts", "value", bucket_width=20)
    got = {(r.k, r.bucket_ts): r for r in out.collect()}
    # one row per (series, bucket)
    assert len(got) == 10
    # endpoint rule: first bucket keeps first point, last keeps last
    assert got[("flat", 0)].ts == 0 and got[("flat", 80)].ts == 99
    assert got[("sine", 0)].ts == 0 and got[("sine", 80)].ts == 99
    # the spike at t=47 dominates its bucket's triangle areas
    assert got[("flat", 40)].ts == 47 and got[("flat", 40)].value == 600.0
    # sine: selected interior points sit at local extremes of their buckets
    s = got[("sine", 40)]
    bucket_vals = [abs(math.sin(t / 8.0) * 10) for t in range(40, 60)]
    assert abs(s.value) >= max(bucket_vals) - 1.5


def test_lttb_duckdb_parity_random(spark):
    import random
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from oracle_check import compare

    from mandodb_spark.operators.temporal import (lttb_downsample,
                                                  lttb_downsample_sql)

    rng = random.Random(7)
    rows = [(f"s{i % 3}", t, round(rng.uniform(-50, 50), 2))
            for i, t in enumerate(range(400))]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = lttb_downsample(df, ["k"], "ts", "value", 32).toPandas()
    con = duckdb.connect()
    con.register("pts_src", df.toPandas())
    duck = con.execute(
        lttb_downsample_sql("pts_src", ["k"], "ts", "value", 32)
    ).df()
    assert compare("lttb", got, duck) == []


def test_hll_overlap_estimate_accuracy_and_clamp(spark):
    from mandodb_spark.operators.sketch import hll_overlap_estimate

    a = spark.range(0, 20000).selectExpr("cast(id as string) k")
    b = spark.range(15000, 40000).selectExpr("cast(id as string) k")
    (r,) = hll_overlap_estimate(a, b, "k").collect()
    assert r.est_a == pytest.approx(20000, rel=0.03)
    assert r.est_b == pytest.approx(25000, rel=0.03)
    assert r.est_union == pytest.approx(40000, rel=0.03)
    assert r.est_intersect == pytest.approx(5000, rel=0.25)
    assert r.jaccard == pytest.approx(5000 / 40000, rel=0.3)
    # disjoint sets: intersection clamped at >= 0
    c = spark.range(100000, 120000).selectExpr("cast(id as string) k")
    (r2,) = hll_overlap_estimate(a, c, "k").collect()
    assert r2.est_intersect >= 0.0
    assert r2.est_intersect / r2.est_union < 0.02


# -------------------------------------------------------- duplicate spans

def test_duplicate_spans_maximal_merge(spark):
    from mandodb_spark.operators.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} nine ten eleven twelve"),
        (3, "totally unique words nothing repeated here at all"),
        (4, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(df, "doc_id", "text", k=3).collect()
    spans = {r.doc_id: (r.span_start, r.span_end, r.n_tokens) for r in out}
    # doc 1: shared block at tokens 3..8 -> ONE maximal span, not 4
    assert spans[1] == (3, 8, 6)
    assert spans[2] == (1, 6, 6)
    assert 3 not in spans and 4 not in spans
    assert len(out) == 2


def test_duplicate_spans_equals_bruteforce_reference(spark):
    import random

    from mandodb_spark.operators.dedup import duplicate_spans

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    docs = [" ".join(rng.choice(vocab) for _ in range(60)) for _ in range(8)]
    k = 4

    def brute(docs, k):
        wins = {}
        for d, text in enumerate(docs):
            t = text.split()
            for p in range(len(t) - k + 1):
                wins.setdefault(tuple(t[p:p + k]), set()).add(d)
        dup = {w for w, ds in wins.items() if len(ds) >= 2}
        spans = []
        for d, text in enumerate(docs):
            t = text.split()
            hit = [p for p in range(len(t) - k + 1) if tuple(t[p:p + k]) in dup]
            run = []
            for p in hit:
                if run and p == run[-1] + 1:
                    run.append(p)
                else:
                    if run:
                        spans.append((d, run[0] + 1, run[-1] + k))
                    run = [p]
            if run:
                spans.append((d, run[0] + 1, run[-1] + k))
        return sorted(spans)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, "doc_id", "text", k=k).collect()
    )
    assert got == brute(docs, k)
    assert got  # the small vocab guarantees collisions


def test_duplicate_spans_duckdb_parity(spark):
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from oracle_check import compare

    from mandodb_spark.operators.dedup import (duplicate_spans,
                                               duplicate_spans_sql)

    rows = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e y z"),
        (3, "p q r s t u v w"),
        (4, "p q r s zz t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = duplicate_spans(df, "doc_id", "text", k=3).toPandas()
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    duck = con.execute(duplicate_spans_sql("docs", "doc_id", "text", 3)).df()
    assert compare("spans", got, duck) == []


def test_cut_spans_removes_exactly_listed_tokens(spark):
    from mandodb_spark.operators.dedup import cut_spans, duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} nine ten eleven twelve"),
        (3, "totally unique words nothing repeated here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(df, "doc_id", "text", k=3)
    # keep doc 1's copy: drop its span rows before applying
    to_cut = spans.filter(F.col("doc_id") != 1)
    out = {r.doc_id: r.text for r in cut_spans(df, to_cut, "doc_id", "text").collect()}
    assert out[1] == f"one two {shared} three four"        # untouched
    assert out[2] == "nine ten eleven twelve"              # span removed
    assert out[3] == "totally unique words nothing repeated here at all"
    # out_col variant keeps the original column
    out2 = cut_spans(df, to_cut, "doc_id", "text", out_col="clean").collect()
    assert {r.doc_id: (r.text, r.clean) for r in out2}[2] == (
        f"{shared} nine ten eleven twelve", "nine ten eleven twelve"
    )


def test_strip_markup_edges(spark):
    """Tag/script/style/comment removal, entity decode order (&amp;lt;
    stays literal '&lt;'), whitespace collapse, null passthrough."""
    from mandodb_spark.operators.text import strip_markup

    cases = [
        (0, "<p>hello <b>world</b></p>", "hello world"),
        (1, "a &amp;lt; b &lt; c", "a &lt; b < c"),
        (2, "<script>x=1;</script>keep<style>.a{}</style>me", "keep me"),
        (3, "<!-- no -->yes<!-- multi\nline -->", "yes"),
        (4, "plain", "plain"),
        (5, "", ""),
        (6, "tab\there  and\nnewline", "tab here and newline"),
        (7, None, None),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases],
                               "id int, text string")
    got = {r["id"]: r["s"]
           for r in df.select("id", strip_markup(F.col("text")).alias("s")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_dataset_card_shares_and_nulls(spark):
    """corpus_share sums to 1.0 exactly over groups; NULL/empty text rows
    count 0 chars / 0 tokens but still count as docs."""
    from mandodb_spark.operators.profile import dataset_card

    df = spark.createDataFrame(
        [("a", "en", "x y z"), ("a", "en", None), ("a", "de", ""),
         ("b", "en", "one")],
        "source string, lang string, text string")
    rows = {(r["source"], r["lang"]): r
            for r in dataset_card(df, ["source", "lang"], "text").collect()}
    assert rows[("a", "en")]["n_docs"] == 2
    assert rows[("a", "en")]["total_tokens"] == 3
    assert rows[("a", "de")]["total_tokens"] == 0
    assert rows[("a", "de")]["total_chars"] == 0
    assert rows[("b", "en")]["total_tokens"] == 1
    assert abs(sum(r["corpus_share"] for r in rows.values()) - 1.0) < 1e-12


def test_canonicalize_url_rules(spark):
    """Port stripping only for scheme-default, tracking-param removal,
    param sort, fragment drop, empty path -> '/', unparseable -> NULL,
    eTLD+1 with two-level public suffixes."""
    from mandodb_spark.operators.web import (canonicalize_url,
                                             registered_domain, url_host)

    cases = [
        (0, "HTTP://Ex.COM:80/p?b=2&utm_source=x&a=1#f",
         "http://ex.com/p?a=1&b=2", "ex.com"),
        (1, "https://a.b.co.uk:443", "https://a.b.co.uk/", "b.co.uk"),
        (2, "http://ex.com:8080/a?fbclid=1", "http://ex.com:8080/a", "ex.com"),
        (3, "nonsense", None, ""),
        (4, "https://ex.com/p?ref=h&keep=1", "https://ex.com/p?keep=1", "ex.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _, _ in cases],
                               "id int, url string")
    got = {r["id"]: (r["c"], r["d"]) for r in df.select(
        "id", canonicalize_url(F.col("url")).alias("c"),
        registered_domain(url_host(F.col("url"))).alias("d")).collect()}
    for i, _, want_c, want_d in cases:
        assert got[i] == (want_c, want_d), (i, got[i])


def test_url_parts_agrees_with_composed_form_on_edges(spark):
    """The single-pass url_parts struct agrees with canonicalize_url on
    every edge the \\x01-join could disturb (ADVICE r12): a url that
    CONTAINS the separator byte (guard routes it through the
    per-component extractors), and urls with empty port/path/query —
    which rely on Spark's split KEEPING trailing empty strings (pinned
    here so an engine-side behavior change is loud)."""
    from mandodb_spark.operators.web import (canonicalize_from_parts,
                                             canonicalize_url, url_parts)

    urls = [
        "http://h",                         # all-trailing-empty groups
        "https://ex.com:443",               # empty path+query
        "http://ex.com/p",                  # empty query
        "http://ex.com/p\x01q?a=1&b=2",     # separator byte in path
        "http://ex.com/p?a=\x01&b=2",       # separator byte in query
        "\x01nonsense",                     # unparseable with separator
        "a\x01b\x01c\x01d\x01e",             # no match, exactly 5 parts
        "nonsense",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        url_parts(F.col("url")).alias("p"),
    ).select(
        "url",
        canonicalize_from_parts(F.col("p")).alias("via_parts"),
        canonicalize_url(F.col("url")).alias("via_composed"),
        F.col("p.path").alias("path"),
        F.col("p.query").alias("query"),
    ).collect()
    for r in rows:
        assert r.via_parts == r.via_composed, (r.url, r.via_parts,
                                               r.via_composed)
    byurl = {r.url: r for r in rows}
    assert byurl["http://h"].path == "" and byurl["http://h"].query == ""
    assert byurl["http://ex.com/p\x01q?a=1&b=2"].path == "/p\x01q"


def test_scene_changes_detects_cut(spark):
    """Histogram shot detector: a run of near-identical frames scores ~0;
    an abrupt content change crosses the threshold exactly once; frame 0
    always opens a shot; non-AVI payloads degrade to an error row."""
    from mandodb_spark.operators.multimodal import scene_changes

    quiet = [bytes([10, 11, 12, 10] * 64) for _ in range(3)]
    loud = [bytes([200, 210, 220, 230] * 64) for _ in range(2)]
    avi = _encode_avi(64, 48, 40_000, quiet + loud)
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"garbage"))],
        "doc_id long, payload binary")
    rows = scene_changes(df, "doc_id", "payload", threshold=0.25).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    v = sorted(by_doc[1], key=lambda r: r.frame_idx)
    assert [r.is_cut for r in v] == [True, False, False, True, False]
    assert v[3].score > 0.9          # disjoint byte ranges
    assert max(r.score for r in v[1:3]) == 0.0
    assert by_doc[2][0].decode_error is not None


def test_acf_matches_numpy_reference(spark):
    """Exact ACF vs a direct numpy evaluation of the same estimator; a
    pure period-2 series gives r(2) ≈ +1 ordering above r(1) < 0;
    constant series (den = 0) yields NULL acf."""
    import numpy as np

    from mandodb_spark.operators.temporal import acf

    x = [3, 9, 2, 8, 3, 9, 2, 8, 3, 9]
    rows = [("s", t, v) for t, v in enumerate(x)] + \
           [("const", t, 5) for t in range(6)]
    df = spark.createDataFrame(rows, "g string, t int, v int")
    out = {(r["g"], r["lag"]): r["acf"]
           for r in acf(df, ["g"], "t", "v", max_lag=3).collect()}
    xs = np.array(x, dtype=np.int64)
    n, s = len(xs), xs.sum()
    dev = n * xs - s
    den = float((dev * dev).sum())
    for lag in (1, 2, 3):
        want = float((dev[:-lag] * dev[lag:]).sum()) / den
        assert abs(out[("s", lag)] - want) < 1e-12, (lag, out[("s", lag)], want)
    assert out[("s", 2)] > 0.7 and out[("s", 1)] < 0
    assert out[("const", 1)] is None


def test_triangle_count_known_and_random(spark):
    """K4 has 4 triangles; a square + one diagonal has 2; a random graph
    matches a brute-force itertools count (duplicates/reverse edges/self
    loops in the input are canonicalized away)."""
    import itertools
    import random

    from mandodb_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    sq = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (2, 0), (1, 1), (0, 1)]
    rng = random.Random(7)
    rand = [(rng.randrange(12), rng.randrange(12)) for _ in range(40)]

    def brute(es):
        und = {tuple(sorted(e)) for e in es if e[0] != e[1]}
        nodes = {n for e in und for n in e}
        t = sum(1 for a, b, c in itertools.combinations(sorted(nodes), 3)
                if {(a, b), (b, c), (a, c)} <= und)
        return (len(nodes), len(und), t)

    for es in (k4, sq, rand):
        df = spark.createDataFrame(es, "src long, dst long")
        r = triangle_count(df).collect()[0]
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == brute(es), es
    assert brute(k4)[2] == 4 and brute(sq)[2] == 2


def test_chunk_reassemble_roundtrip(spark):
    """reassemble_chunks(chunk_documents(df, c, o), o) == original text,
    across overlap settings and lengths shorter/longer than one chunk."""
    from mandodb_spark.operators.text import chunk_documents, reassemble_chunks

    docs = [(i, " ".join(f"w{j}" for j in range(n)))
            for i, n in enumerate([1, 3, 8, 9, 25, 64])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for size, ov in [(8, 0), (8, 3), (5, 4), (16, 1)]:
        ch = chunk_documents(df, "doc_id", "text", size, overlap=ov)
        back = {r["doc_id"]: r["text"]
                for r in reassemble_chunks(ch, "doc_id", overlap=ov).collect()}
        assert back == dict(docs), (size, ov)


def test_pseudonymize_properties(spark):
    """Deterministic per salt, different across salts, NULL-preserving,
    length-bounded, and matches the DuckDB mirror byte-for-byte."""
    import duckdb

    from mandodb_spark.operators.privacy import pseudonymize, pseudonymize_sql

    df = spark.createDataFrame([(1,), (2,), (None,)], "uid int")
    a = {r["uid"]: r["p"] for r in df.select(
        "uid", pseudonymize(F.col("uid"), "s1").alias("p")).collect()}
    b = {r["uid"]: r["p"] for r in df.select(
        "uid", pseudonymize(F.col("uid"), "s2").alias("p")).collect()}
    assert a[None] is None and b[None] is None
    assert a[1] != a[2] and a[1] != b[1]
    assert all(len(v) == 16 for v in a.values() if v)
    want = duckdb.sql(
        "SELECT " + pseudonymize_sql("1", "s1")).fetchone()[0]
    assert a[1] == want


def test_random_projection_preserves_neighborhoods(spark):
    """JL projection: deterministic across calls, exact GEMM vs numpy on
    a spot row, and top-10 cosine neighbors in the projected space
    recover most exact top-10 neighbors on clustered data (recall ≥ 0.6
    at 64 → 16 dims; brute-force check on 120 vectors)."""
    import hashlib

    import numpy as np

    from mandodb_spark.operators.similarity import random_project

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 64))
    vecs = [(i, (centers[i % 6] + 0.15 * rng.normal(size=64)).tolist())
            for i in range(120)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    p1 = {r["vec_id"]: np.array(r["projected"])
          for r in random_project(df, "vec_id", "embedding", 16).collect()}
    p2 = {r["vec_id"]: np.array(r["projected"])
          for r in random_project(df, "vec_id", "embedding", 16).collect()}
    assert all((p1[i] == p2[i]).all() for i in p1)  # deterministic

    signs = np.array(
        [[1.0 if int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest(), 16) % 2
          else -1.0 for d in range(64)] for j in range(16)]) / 4.0
    v0 = np.array(vecs[0][1])
    assert np.allclose(p1[0], signs @ v0)

    X = np.array([v for _, v in vecs])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    P = np.stack([p1[i] for i in range(120)])
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
    recalls = []
    for q in range(0, 120, 7):
        exact = set(np.argsort(-(Xn @ Xn[q]))[1:11])
        approx = set(np.argsort(-(Pn @ Pn[q]))[1:11])
        recalls.append(len(exact & approx) / 10)
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_salted_join_equivalence_and_spread(spark):
    """salted_join ≡ plain join (inner AND left, incl. unmatched left
    rows), and a 10k-row hot key actually spreads across salts."""
    from mandodb_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(10_000)] + [("cold", 0), ("orphan", 1)],
        "k string, payload long")
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], "k string, attr string")

    for how in ("inner", "left"):
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        got = sorted(map(tuple, salted_join(
            left, right, "k", n_salts=8, how=how,
            salt_cols=["payload"]).collect()))
        assert got == want, how

    spread = (
        left.filter(F.col("k") == "hot")
        .select(F.pmod(F.xxhash64("payload"), F.lit(8)).alias("s"))
        .groupBy("s").count().collect())
    assert len(spread) == 8
    assert max(r["count"] for r in spread) < 10_000 * 0.25


def test_expectations_report_counts_violations(spark):
    """Each rule kind counts exactly its violations; NULLs only violate
    not_null (three-valued logic); unique counts duplicate EXTRAS."""
    from mandodb_spark.operators.profile import expectations_report

    df = spark.createDataFrame(
        [(1, "en", 5), (1, "en", -2), (2, None, 50), (None, "xx", 5)],
        "id int, lang string, score int")
    rep = {(r["col_name"], r["kind"]): (r["n_violations"], r["passed"])
           for r in expectations_report(df, [
               {"col": "id", "kind": "not_null"},
               {"col": "id", "kind": "unique"},
               {"col": "lang", "kind": "accepted_values", "values": ["en", "de"]},
               {"col": "score", "kind": "min", "value": 0},
               {"col": "score", "kind": "max", "value": 10},
               {"col": "lang", "kind": "matches", "pattern": "^[a-w]+$"},
           ]).collect()}
    assert rep[("id", "not_null")] == (1, False)
    assert rep[("id", "unique")] == (1, False)         # one duplicate extra
    assert rep[("lang", "accepted_values")] == (1, False)  # 'xx'; NULL skipped
    assert rep[("score", "min")] == (1, False)
    assert rep[("score", "max")] == (1, False)
    assert rep[("lang", "matches")] == (1, False)      # 'xx' fails [a-w]


def test_k_core_matches_brute_force(spark):
    """k-core vs an iterative python peel on known + random graphs: a
    triangle with a pendant chain keeps only the triangle at k=2; random
    graphs match exactly (members AND in-core degrees); k too large
    yields empty."""
    import random

    from mandodb_spark.operators.graph import k_core

    def brute(es, k):
        und = {tuple(sorted(e)) for e in es if e[0] != e[1]}
        while True:
            deg = {}
            for x, y in und:
                deg[x] = deg.get(x, 0) + 1
                deg[y] = deg.get(y, 0) + 1
            weak = {n for n, d in deg.items() if d < k}
            if not weak:
                return deg
            und = {e for e in und if weak.isdisjoint(e)}

    tri_chain = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    rng = random.Random(5)
    rand = [(rng.randrange(14), rng.randrange(14)) for _ in range(50)]
    for es, k in [(tri_chain, 2), (rand, 2), (rand, 3), (rand, 9)]:
        df = spark.createDataFrame(es, "src long, dst long")
        got = {r["node"]: r["degree"] for r in k_core(df, k).collect()}
        assert got == brute(es, k), (es, k)
    assert brute(tri_chain, 2) == {0: 2, 1: 2, 2: 2}


def test_cdc_chunks_shift_invariance_and_bounds(spark):
    """Content-defined chunking: sizes respect [min,max] (final chunk may
    be short), deterministic across calls, and — the point — inserting
    bytes near the front changes only the leading chunks: the tail
    chunk-hash multiset is preserved (fixed-size chunking would shift
    every boundary)."""
    import random

    from mandodb_spark.operators.multimodal import cdc_chunks

    rng = random.Random(3)
    a = bytes(rng.randrange(256) for _ in range(20_000))
    b = b"INSERTED-PREFIX-BYTES!" + a
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b)), (3, bytearray(b""))],
        "doc_id long, payload binary")
    rows = cdc_chunks(df, "doc_id", "payload", avg_size=512).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by  # empty payload -> no rows
    for did in (1, 2):
        cs = sorted(by[did], key=lambda r: r["chunk_idx"])
        total = sum(r["length"] for r in cs)
        assert total == (20_000 if did == 1 else 20_000 + 22)
        assert all(r["length"] <= 2048 for r in cs)
        assert all(r["length"] >= 128 for r in cs[:-1])
        # offsets are contiguous
        off = 0
        for r in cs:
            assert r["offset"] == off
            off += r["length"]
    ha = [r["chunk_md5"] for r in sorted(by[1], key=lambda r: r["chunk_idx"])]
    hb = [r["chunk_md5"] for r in sorted(by[2], key=lambda r: r["chunk_idx"])]
    # the tail realigns: a long common suffix of chunk hashes survives
    common_tail = 0
    while (common_tail < min(len(ha), len(hb))
           and ha[-1 - common_tail] == hb[-1 - common_tail]):
        common_tail += 1
    assert common_tail >= max(2, len(ha) - 4), (len(ha), len(hb), common_tail)
    # deterministic
    again = cdc_chunks(df, "doc_id", "payload", avg_size=512).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_cdc_dedup_report_counts_planted_duplicates(spark):
    """Two assets sharing a large identical region: the chunk-level
    report finds real savings (dedup_ratio > 0.3) and exact byte
    accounting."""
    import random

    from mandodb_spark.operators.multimodal import cdc_chunks, cdc_dedup_report

    rng = random.Random(9)
    shared = bytes(rng.randrange(256) for _ in range(12_000))
    a = shared + bytes(rng.randrange(256) for _ in range(2_000))
    b = bytes(rng.randrange(256) for _ in range(2_000)) + shared
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b))], "doc_id long, payload binary")
    ch = cdc_chunks(df, "doc_id", "payload", avg_size=512)
    rep = cdc_dedup_report(ch).collect()[0]
    assert rep["total_bytes"] == len(a) + len(b)
    assert rep["unique_bytes"] < rep["total_bytes"]
    assert rep["dedup_ratio"] > 0.3, rep
    assert rep["n_unique_chunks"] < rep["n_chunks"]


def test_co_occurrence_projection(spark):
    """Weighted bipartite projection vs brute force; hub contexts above
    the cap contribute nothing; min_count prunes weak edges."""
    import itertools

    rows = [("u1", "a"), ("u2", "a"), ("u3", "a"),
            ("u1", "b"), ("u2", "b"),
            ("u1", "c"),                      # singleton context: no pairs
            ("u1", "hub"), ("u2", "hub"), ("u3", "hub"), ("u4", "hub")]
    df = spark.createDataFrame(rows, "user string, item string")

    from mandodb_spark.operators.graph import co_occurrence

    got = {(r["src"], r["dst"]): r["weight"]
           for r in co_occurrence(df, "user", "item",
                                  max_context_size=3).collect()}
    # contexts a (3 users) and b (2 users) count; hub (4 > cap) dropped
    want = {}
    for ctx, members in [("a", ["u1", "u2", "u3"]), ("b", ["u1", "u2"])]:
        for x, y in itertools.combinations(sorted(members), 2):
            want[(x, y)] = want.get((x, y), 0) + 1
    assert got == want
    strong = {(r["src"], r["dst"])
              for r in co_occurrence(df, "user", "item", min_count=2,
                                     max_context_size=3).collect()}
    assert strong == {("u1", "u2")}


def test_coreness_matches_brute_force(spark):
    """Coreness ladder vs a direct peel-per-k python reference on random
    graphs (triangle+pendant known case: triangle nodes 2, bridge 1)."""
    import random

    from mandodb_spark.operators.graph import coreness

    def brute(es):
        und = {tuple(sorted(e)) for e in es if e[0] != e[1]}
        nodes = {n for e in und for n in e}
        core = {n: 1 for n in nodes}
        k = 2
        cur = set(und)
        while cur:
            while True:
                deg = {}
                for x, y in cur:
                    deg[x] = deg.get(x, 0) + 1
                    deg[y] = deg.get(y, 0) + 1
                weak = {n for n, d in deg.items() if d < k}
                if not weak:
                    break
                cur = {e for e in cur if weak.isdisjoint(e)}
            for n in {n for e in cur for n in e}:
                core[n] = k
            k += 1
        return core

    tri_chain = [(0, 1), (1, 2), (0, 2), (2, 3)]
    rng = random.Random(8)
    rand = [(rng.randrange(12), rng.randrange(12)) for _ in range(45)]
    for es in (tri_chain, rand):
        df = spark.createDataFrame(es, "src long, dst long")
        got = {r["node"]: r["coreness"] for r in coreness(df).collect()}
        assert got == brute(es), es
    assert brute(tri_chain) == {0: 2, 1: 2, 2: 2, 3: 1}


def test_skipgram_pairs_windowing(spark):
    """Exact pair set for a known sentence at window 1 and 2 (direction
    preserved via delta; edges clipped; null text skipped)."""
    from mandodb_spark.operators.text import skipgram_pairs

    df = spark.createDataFrame([(1, "a b c"), (2, None)],
                               "doc_id long, text string")
    got = {(r["pos"], r["center"], r["context"], r["delta"])
           for r in skipgram_pairs(df, "doc_id", "text", window=1).collect()}
    assert got == {(0, "a", "b", 1), (1, "b", "a", -1), (1, "b", "c", 1),
                   (2, "c", "b", -1)}
    w2 = {(r["center"], r["context"], r["delta"])
          for r in skipgram_pairs(df, "doc_id", "text", window=2).collect()}
    assert ("a", "c", 2) in w2 and ("c", "a", -2) in w2 and len(w2) == 6


def test_mmr_rerank_diversifies(spark):
    """MMR: lam=1 reduces to pure relevance order; lam<1 demotes a
    near-duplicate of an already-picked hit below a diverse alternative;
    deterministic ties; k caps output."""
    from mandodb_spark.operators.similarity import mmr_rerank

    rows = [
        (1, [1.0, 0.0], 0.95),   # top hit
        (2, [0.99, 0.01], 0.94), # near-dup of 1
        (3, [0.0, 1.0], 0.80),   # diverse
        (4, [0.7, 0.7], 0.70),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>, score double")
    pure = [i for i, _ in mmr_rerank(df, "id", "vec", "score", k=4, lam=1.0)]
    assert pure == [1, 2, 3, 4]
    mixed = [i for i, _ in mmr_rerank(df, "id", "vec", "score", k=3, lam=0.5)]
    assert mixed[0] == 1 and mixed[1] == 3   # diversity beats the near-dup
    assert len(mmr_rerank(df, "id", "vec", "score", k=2)) == 2
    assert mmr_rerank(df.limit(0), "id", "vec", "score", k=3) == []


def test_fuzzy_join_exact_vs_bruteforce(spark):
    """fuzzy_join (Ed-Join q-gram prefix blocking) must be LOSSLESS:
    every pair within the levenshtein threshold, including short-string
    pairs that share zero q-grams (the separately-handled stratum) and
    cross-length edits.  Brute-force python DP is the oracle."""
    import random

    from mandodb_spark.operators.joins import fuzzy_join

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(13)
    alpha = "abcd"
    base = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
            for _ in range(40)]
    # right side: mutated copies (substitute/insert/delete) + randoms
    def mutate(s):
        ops = rng.randint(0, 3)
        s = list(s)
        for _ in range(ops):
            k = rng.randrange(3)
            if k == 0 and s:
                s[rng.randrange(len(s))] = rng.choice(alpha)
            elif k == 1:
                s.insert(rng.randrange(len(s) + 1), rng.choice(alpha))
            elif s:
                del s[rng.randrange(len(s))]
        return "".join(s) or "a"

    rights = [mutate(rng.choice(base)) for _ in range(40)]
    L = spark.createDataFrame([(i, s) for i, s in enumerate(base)], "lid long, lk string")
    R = spark.createDataFrame([(i, s) for i, s in enumerate(rights)], "rid long, rk string")
    for d in (0, 1, 2):
        got = {(r["lid"], r["rid"], r["distance"]) for r in
               fuzzy_join(L, R, "lid", "lk", "rid", "rk", d).collect()}
        want = {(i, j, lev(a, b)) for i, a in enumerate(base)
                for j, b in enumerate(rights) if lev(a, b) <= d}
        assert got == want, (d, got ^ want)


def test_fuzzy_join_short_stratum_broadcasts_keys_not_rows(spark):
    """Round-7 verdict #3: a short-key-HEAVY corpus (5k rows, 100
    distinct ≤2-char names on each side) must complete with the short
    stratum's broadcast bounded by the DISTINCT key universe, not the
    row count — every BroadcastExchange in the plan sits above an
    aggregate (the distinct), never above a raw scan of short rows —
    and the pair count must match the key-level closed form."""
    import itertools
    import random
    import re

    from mandodb_spark.operators.joins import fuzzy_join
    from mandodb_spark.plans import formatted_plan

    rng = random.Random(7)
    alpha = "abcdefghij"
    keys = list({a + b for a, b in itertools.product(alpha, alpha)})[:100]
    n = 5_000
    rows = [(i, keys[rng.randrange(len(keys))]) for i in range(n)]
    L = spark.createDataFrame(rows, "lid long, lk string")
    R = L.select(F.col("lid").alias("rid"), F.col("lk").alias("rk"))
    out = fuzzy_join(L, R, "lid", "lk", "rid", "rk", max_distance=1)

    # plan shape: broadcasts feed from HashAggregate (distinct keys /
    # verified key pairs), never directly from the 5k-row relation
    plan = formatted_plan(out)
    assert "BroadcastExchange" in plan
    bcast_inputs = re.findall(
        r"Input \[\d+\]: \[([^\]]*)\]\n\n\(\d+\) BroadcastExchange", plan)
    # every broadcast input is key-only — no __lid/__rid id columns riding
    for cols in bcast_inputs:
        assert "__lid" not in cols and "__rid" not in cols, cols

    # closed form: sum over key pairs with lev<=1 of cnt_a*cnt_b
    def lev1(a, b):
        if a == b:
            return True
        if abs(len(a) - len(b)) > 1:
            return False
        return (sum(x != y for x, y in zip(a, b)) <= 1 if len(a) == len(b)
                else (a in (b[:i] + b[i + 1:] for i in range(len(b)))
                      or b in (a[:i] + a[i + 1:] for i in range(len(a)))))

    from collections import Counter
    cnt = Counter(k for _, k in rows)
    want = sum(cnt[a] * cnt[b] for a in cnt for b in cnt if lev1(a, b))
    assert out.count() == want


def test_dsir_weights_match_reference_model(spark):
    """dsir_weights == the hand-computed hashed-ngram importance model
    (unigrams+bigrams, md5 buckets, add-s smoothing) on a tiny corpus;
    featureless docs score 0; dsir_select's k-boundary is deterministic
    under duplicate texts (id tie-break); and the plan keeps the 100 TB
    shape — the B-row ratio table is BROADCAST back, no cartesian, no
    sort-merge join of the corpus against itself."""
    import hashlib
    import math

    from mandodb_spark.operators.sampling import dsir_select, dsir_weights
    from mandodb_spark.plans import physical_plan

    B, s = 64, 1.0
    raw_docs = [(0, "apple banana apple"), (1, "carrot dog"),
                (2, "apple banana apple"),   # dup of 0 -> identical weight
                (3, "")]                     # featureless -> 0.0
    tgt_docs = [(10, "apple banana"), (11, "apple apple")]

    def grams(text):
        toks = text.lower().split(" ")
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:8], 16) % B

    def counts(docs):
        out = {}
        for _i, t in docs:
            for g in grams(t):
                b = bucket(g)
                out[b] = out.get(b, 0) + 1
        return out

    rc, tc = counts(raw_docs), counts(tgt_docs)
    R, T = sum(rc.values()), sum(tc.values())
    lr = {b: math.log((tc.get(b, 0) + s) / (T + s * B))
          - math.log((rc.get(b, 0) + s) / (R + s * B))
          for b in set(rc) | set(tc)}
    want = {}
    for i, t in raw_docs:
        want[i] = sum(lr[bucket(g)] for g in grams(t))

    L = spark.createDataFrame(raw_docs, "doc_id long, text string")
    Tdf = spark.createDataFrame(tgt_docs, "doc_id long, text string")
    got = {r["doc_id"]: r["logw"]
           for r in dsir_weights(L, Tdf, "doc_id", "text", B).collect()}
    assert set(got) == {0, 1, 2, 3}
    # doc 3's "" splits to [""] — the empty string IS a token, and the
    # reference model above computes it the same way
    for i in (0, 1, 2, 3):
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])
    # featureless means NULL text: split(NULL) -> no gram rows -> 0.0
    L2 = spark.createDataFrame([(4, None)], "doc_id long, text string")
    got2 = dsir_weights(L2, Tdf, "doc_id", "text", B).collect()
    assert got2[0]["logw"] == 0.0

    assert got[0] == got[2]       # dup text -> identical weight
    sel = dsir_select(L, Tdf, "doc_id", "text", k=2, n_buckets=B).collect()
    ids = [r["doc_id"] for r in sel]
    assert ids == sorted(ids, key=lambda i: (-round(want.get(i, 0.0), 9), i))[:2]

    plan = physical_plan(dsir_weights(L, Tdf, "doc_id", "text", B))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_quality_classifier_trains_scores_and_persists(spark, tmp_path):
    """Trained quality filter (operators/quality_model): hashed-ngram
    logistic regression separates clean prose from mash on held-out
    rows, the persisted model scores identically after reload, and the
    weak-label bootstrap derives a balanced margin-filtered training set
    from the heuristic score."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.quality_model import (
        load_model,
        save_model,
        score_quality,
        train_quality_classifier,
        weak_labels_from_heuristics,
    )

    good = [(i, "the quick brown fox jumps over the lazy dog "
                f"number {i} and rests in the warm meadow", 1.0)
            for i in range(120)]
    bad = [(1000 + i, ("zx9$#@ qq%% " * 5) + f"!!{i}##", 0.0)
           for i in range(120)]
    df = spark.createDataFrame(good + bad,
                               "doc_id long, text string, label double")
    train, test = df.randomSplit([0.8, 0.2], seed=7)
    model = train_quality_classifier(train, num_features=1 << 12)
    scored = score_quality(test, model)
    means = {r["label"]: r["p"] for r in scored.groupBy("label")
             .agg(F.avg("quality_prob").alias("p")).collect()}
    assert means[1.0] > 0.9 and means[0.0] < 0.1
    assert set(scored.columns) == {"doc_id", "text", "label", "quality_prob"}

    path = str(tmp_path / "qmodel")
    save_model(model, path)
    reloaded = load_model(spark, path)
    s1 = scored.agg(F.sum("quality_prob")).collect()[0][0]
    s2 = score_quality(test, reloaded).agg(
        F.sum("quality_prob")).collect()[0][0]
    assert s1 == pytest.approx(s2, abs=1e-9)

    # weak-label bootstrap: margin rows dropped, labels from the quantile
    # cutoffs of the heuristic score; add a middling stratum so the
    # margin has something to drop
    mid = spark.createDataFrame(
        [(2000 + i, f"meh text {i} ok %% mixed!! stuff and more ## words")
         for i in range(60)], "doc_id long, text string")
    docs = df.select("doc_id", "text").unionByName(mid)
    # heuristic strata here: mash 0.56 (120) < prose 0.84 (120) < mixed
    # 0.96 (60); cutoffs straddling the middle stratum must DROP it
    wl = weak_labels_from_heuristics(docs, lo_q=0.2, hi_q=0.9)
    counts = {r["label"]: r["n"] for r in
              wl.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert counts == {0.0: 120, 1.0: 60}
    assert wl.count() < docs.count()  # ambiguous middle dropped


def test_quality_classifier_heldout_evaluation(spark):
    """evaluate_quality_classifier (r8 verdict #7): deterministic hash
    split + held-out AUC / accuracy / precision@k.  Metrics clear the
    separability bar, are bit-identical across repeated evaluations of
    the same (model, test set), and stay within tolerance across
    independent retrains (same data, fresh pipeline)."""
    from mandodb_spark.operators.quality_model import (
        evaluate_quality_classifier,
        hash_split,
        train_quality_classifier,
    )

    good = [(i, "the quick brown fox jumps over the lazy dog "
                f"number {i} and rests in the warm meadow", 1.0)
            for i in range(150)]
    bad = [(1000 + i, ("zx9$#@ qq%% " * 5) + f"!!{i}##", 0.0)
           for i in range(150)]
    df = spark.createDataFrame(good + bad,
                               "doc_id long, text string, label double")
    train, test = hash_split(df, "doc_id", test_frac=0.25)
    # the split is identity-keyed: same rows land on the same side
    # regardless of partitioning
    t2 = hash_split(df.repartition(13), "doc_id", test_frac=0.25)[1]
    assert sorted(r["doc_id"] for r in test.collect()) == \
        sorted(r["doc_id"] for r in t2.collect())
    assert 0 < test.count() < df.count()

    model = train_quality_classifier(train, num_features=1 << 12)
    m1 = evaluate_quality_classifier(test, model, k=20)
    assert m1["auc"] > 0.95 and m1["accuracy"] > 0.9
    assert m1["precision_at_k"] == 1.0 and m1["k"] == 20
    assert m1["n"] == test.count() and 0.0 < m1["base_rate"] < 1.0
    # same model + test set -> identical numbers
    assert evaluate_quality_classifier(test, model, k=20) == m1
    # independent retrain -> within tolerance
    m2 = evaluate_quality_classifier(
        test, train_quality_classifier(train, num_features=1 << 12), k=20)
    assert abs(m2["auc"] - m1["auc"]) < 0.05
    assert abs(m2["accuracy"] - m1["accuracy"]) < 0.1
