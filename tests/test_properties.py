"""Property-based tests (hypothesis) for the identity/merge invariants the
reference pins in label_test.go:74-82 and tsdb.go:295-321."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mandodb_spark.model import canonical_labels_json, series_key

label_dicts = st.dictionaries(
    st.text(st.characters(codec="ascii", exclude_characters='"\\'), min_size=1, max_size=8),
    st.text(st.characters(codec="ascii", exclude_characters='"\\'), min_size=1, max_size=8),
    min_size=1,
    max_size=5,
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(labels=label_dicts)
def test_series_key_is_order_insensitive_and_injective_on_sets(spark, labels):
    """label_test.go:74-82: same label set in any insertion order → same
    hash; a perturbed set → different hash (overwhelmingly)."""
    items = list(labels.items())
    perm = list(reversed(items))
    perturbed = dict(items)
    k0 = next(iter(perturbed))
    perturbed[k0] = perturbed[k0] + "_x"

    def mk(d):
        return F.create_map(*[F.lit(x) for kv in d for x in kv])

    row = spark.range(1).select(
        series_key(mk(items)).alias("a"),
        series_key(mk(perm)).alias("b"),
        series_key(mk(list(perturbed.items()))).alias("c"),
        canonical_labels_json(mk(items)).alias("ja"),
        canonical_labels_json(mk(perm)).alias("jb"),
    ).first()
    assert row.a == row.b and row.ja == row.jb
    assert row.a != row.c


N_BITS, N_BANDS, MAX_HAMMING = 64, 4, 3


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.integers(min_value=0, max_value=(1 << N_BITS) - 1),
    flip_bits=st.sets(st.integers(min_value=0, max_value=N_BITS - 1), max_size=MAX_HAMMING),
)
def test_simhash_band_lsh_is_lossless_within_hamming_bound(spark, base, flip_bits):
    """The pigeonhole claim of simhash_band_pairs (dedup.py): with 4 bands
    over 64 bits (the production Manku parameterization), ANY pair within
    Hamming distance <= 3 = bands-1 must share at least one untouched band,
    so the band equi-join finds it — lossless candidate generation, not a
    recall heuristic.  Fingerprints are stored as signed BIGINT; flips of
    bit 63 exercise the two's-complement wrap."""
    from mandodb_spark.operators.dedup import simhash_band_pairs

    other = base
    for b in flip_bits:
        other ^= 1 << b
    df = spark.createDataFrame(
        [(1, _signed64(base)), (2, _signed64(other))], "doc_id long, simhash long"
    )
    out = simhash_band_pairs(
        df, "doc_id", n_bits=N_BITS, n_bands=N_BANDS, max_hamming=MAX_HAMMING
    ).collect()
    if flip_bits:
        assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, len(flip_bits))]
    else:
        # identical hashes: still a pair at hamming 0
        assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 0)]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n_rows=st.integers(min_value=1, max_value=60),
    rate=st.sampled_from([0.2, 0.5, 0.8]),
    parts=st.integers(min_value=1, max_value=7),
)
def test_hash_sample_is_partitioning_invariant_and_monotone(spark, n_rows, rate, parts):
    """operators/sampling.py's core claims: the sample is a pure function
    of the key (identical under any repartitioning — a speculative retry
    can't change it) and monotone in the rate (rate r1 <= r2 -> sample(r1)
    is a subset of sample(r2), same salt)."""
    from mandodb_spark.operators import sampling

    df = spark.range(n_rows).withColumnRenamed("id", "k")
    base = {r.k for r in sampling.hash_sample(df, "k", rate).collect()}
    shuffled = {r.k for r in sampling.hash_sample(df.repartition(parts), "k", rate).collect()}
    assert base == shuffled
    bigger = {r.k for r in sampling.hash_sample(df, "k", min(rate + 0.2, 1.0)).collect()}
    assert base <= bigger


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    size=st.integers(min_value=1, max_value=2000),
    chunk=st.sampled_from([64, 256, 1024]),
    overlap_frac=st.sampled_from([0, 1, 3]),
)
def test_chunk_plan_exactly_covers_every_byte(spark, size, chunk, overlap_frac):
    """multimodal.chunk_plan: the union of [start, start+len) ranges is
    exactly [0, byte_len) — no gaps, no spill past the tail — and
    consecutive chunks overlap by exactly `overlap` except at the tail."""
    from mandodb_spark.operators import multimodal

    overlap = (chunk // 4) * overlap_frac // 3  # 0 or chunk//12*... keep < chunk
    df = spark.createDataFrame([(1, "a" * size)], "doc_id long, text string")
    payloads = multimodal.with_binary_payload(df, "text")
    out = sorted(
        (r.chunk_start, r.chunk_len)
        for r in multimodal.chunk_plan(
            payloads, "doc_id", "payload", chunk_bytes=chunk, overlap=overlap
        ).collect()
    )
    covered = set()
    for s, ln in out:
        assert ln >= 1 and s + ln <= size
        covered.update(range(s, s + ln))
    assert covered == set(range(size))


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vec=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=2,
        max_size=16,
    )
)
def test_int8_error_within_half_scale_bound(spark, vec):
    """int8_reconstruction_error <= (scale/2)*sqrt(d) / ||x||: rounding
    moves each coordinate at most scale/2 and the clamp never binds
    (|x| <= amax = 127*scale by construction)."""
    import math

    from mandodb_spark.operators import similarity

    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    err = df.select(
        similarity.int8_reconstruction_error(F.col("embedding")).alias("e")
    ).collect()[0].e
    fvec = [float(f"{v:.6g}") for v in vec]  # float32 round-trip approximation
    norm = math.sqrt(sum(v * v for v in fvec))
    amax = max(abs(v) for v in fvec)
    if norm == 0 or amax == 0:
        assert err == 0.0
    else:
        bound = (amax / 127.0 / 2.0) * math.sqrt(len(vec)) / norm
        assert err <= bound * 1.01 + 1e-9


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=60),
    seq_len=st.integers(min_value=8, max_value=256),
    n_groups=st.integers(min_value=1, max_value=6),
)
def test_pack_plan_tiles_for_any_corpus(spark, toks, seq_len, n_groups):
    """Packing invariant for arbitrary token-count corpora: every doc gets
    exactly one slot, and per shard the (seq, offset) slots are exactly the
    running token sum — no gaps, no overlaps, straddle flag consistent."""
    from mandodb_spark.operators.packing import pack_plan

    docs = spark.createDataFrame(
        list(enumerate(toks)), "doc_id long, n_tokens long"
    )
    plan = pack_plan(docs, "doc_id", "n_tokens", seq_len, n_groups).collect()
    assert len(plan) == len(toks)
    by_grp: dict[int, list] = {}
    for r in plan:
        by_grp.setdefault(r.grp, []).append(r)
    for rows in by_grp.values():
        rows.sort(key=lambda r: (r.seq, r.offset, r.doc_id))
        cum = 0
        for r in rows:
            assert (r.seq, r.offset) == (cum // seq_len, cum % seq_len)
            assert r.crosses == (r.offset + r.n_tokens > seq_len)
            cum += r.n_tokens


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(
        st.text(alphabet="abcdef0123456789:_-", min_size=1, max_size=24),
        min_size=1, max_size=40, unique=True,
    ),
    m_exp=st.integers(min_value=8, max_value=14),
)
def test_bloom_gate_never_misses_members(spark, keys, m_exp):
    """Bloom membership invariant for arbitrary key sets and geometries:
    every inserted key probes true (zero false negatives — the property
    the no-silent-data-drop contract of a dedup gate rests on), and the
    occupied-word table never exceeds min(k·n, m/32) rows (+1 for the
    geometry row the build attaches)."""
    from mandodb_spark.operators import membership

    m = 1 << m_exp
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    bloom = membership.bloom_build(df, F.col("key"), m_bits=m)
    assert (
        bloom.count()
        <= min(membership.BLOOM_K * len(keys), m // membership.WORD_BITS) + 1
    )
    out = membership.bloom_flag(df, F.col("key"), bloom, m_bits=m).collect()
    assert all(r.might_contain for r in out)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta".split()),
            min_size=1, max_size=12,
        ).map(" ".join),
        min_size=1, max_size=8,
    ),
)
def test_span_dedup_partitions_distinct_spans_exactly_once(spark, docs):
    """Global span-dedup invariants over arbitrary corpora: every distinct
    span survives in EXACTLY one document (first-occurrence winner), the
    kept counts sum to the number of distinct spans, per-doc span totals
    match an independent count, and each new_text is the in-order join of
    that doc's winning spans."""
    from mandodb_spark.operators.dedup import span_dedup

    n = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(df, "doc_id", "text", span_tokens=n).collect()}

    def spans_of(text):
        toks = text.split(" ")
        return [" ".join(toks[i:i + n]) for i in range(0, len(toks), n)]

    all_spans = {}
    for doc_id, text in enumerate(docs):
        for idx, sp in enumerate(spans_of(text)):
            all_spans.setdefault(sp, (doc_id, idx))
        assert out[doc_id].n_spans == len(spans_of(text))
    expect_kept = {}
    for sp, (doc_id, idx) in all_spans.items():
        expect_kept.setdefault(doc_id, []).append((idx, sp))
    for doc_id in range(len(docs)):
        want = [sp for _, sp in sorted(expect_kept.get(doc_id, []))]
        assert out[doc_id].kept_spans == len(want)
        assert out[doc_id].new_text == " ".join(want)
    assert sum(r.kept_spans for r in out.values()) == len(all_spans)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["banner", "menu", " menu ", "a", "b c", "", "unique"]),
            min_size=1, max_size=6,
        ).map("\n".join),
        min_size=1, max_size=7,
    ),
)
def test_line_dedup_matches_reference_model(spark, docs):
    """CCNet line-dedup invariants over arbitrary corpora: a line survives
    iff its TRIMMED form occurs in fewer than 2 distinct documents;
    survivors keep original order; totals count raw (pre-drop) lines.
    Checked against an independent pure-python model (includes tricky
    cases: whitespace-normalized collisions like 'menu' vs ' menu ',
    empty lines as cross-doc boilerplate)."""
    from collections import defaultdict

    from mandodb_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, "doc_id", "text").collect()}

    by_key = defaultdict(set)
    for doc_id, text in enumerate(docs):
        for line in text.split("\n"):
            by_key[line.strip()].add(doc_id)
    for doc_id, text in enumerate(docs):
        lines = text.split("\n")
        want = [ln for ln in lines if len(by_key[ln.strip()]) < 2]
        assert out[doc_id].n_lines == len(lines)
        assert out[doc_id].kept_lines == len(want)
        assert out[doc_id].new_text == "\n".join(want)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # series choice
            st.integers(min_value=0, max_value=3),   # ts bucket
            st.integers(min_value=0, max_value=99),  # value
        ),
        min_size=1, max_size=20,
    ),
)
def test_dedup_last_write_keeps_exactly_last_per_series_ts(spark, points):
    """Ingest last-write-wins property: for ANY batch with duplicated
    (series, ts) pairs, dedup_last_write keeps exactly one row per pair —
    the one with the highest explicit order — matching a pure-python
    fold over the batch in order."""
    from mandodb_spark.sources.segment_store import dedup_last_write

    # canonical-shape batch built directly (canonicalize projects extra
    # columns away, so an explicit order column rides the canonical frame)
    rows = [
        ({"s": str(s)}, 1_700_000_000 + t, float(v), s, (1_700_000_000 + t) // 7200, i)
        for i, (s, t, v) in enumerate(points)
    ]
    df = spark.createDataFrame(
        rows,
        "labels map<string,string>, ts long, value double, "
        "series_key long, seg long, ord long",
    )
    got = dedup_last_write(df, order_col="ord").collect()

    model = {}
    for s, t, v in points:  # later entries overwrite: last write wins
        model[(str(s), 1_700_000_000 + t)] = float(v)
    assert len(got) == len(model)
    for r in got:
        key = (r.labels["s"], r.ts)
        assert model[key] == r.value


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=30
    ),
)
def test_zorder_key_is_injective_and_locality_preserving(spark, pairs):
    """Morton-key invariants: distinct rank pairs map to distinct keys
    (injective on the 16x16 rank grid), and the key equals the reference
    bit-interleave computed in pure python."""
    from mandodb_spark.sources.layout import zorder_key

    df = spark.createDataFrame(list(set(pairs)), "a int, b int")
    rows = df.select(
        "a", "b", zorder_key([F.col("a"), F.col("b")], bits=4).alias("z")
    ).collect()

    def ref(a, b):
        z = 0
        for bit in range(4):
            z |= ((a >> bit) & 1) << (2 * bit)
            z |= ((b >> bit) & 1) << (2 * bit + 1)
        return z

    for r in rows:
        assert r.z == ref(r.a, r.b)
    assert len({r.z for r in rows}) == len(rows)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    samples=st.lists(
        st.tuples(st.integers(0, 20), st.booleans()),  # (minute offset, hot?)
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
)
def test_alert_intervals_match_reference_model(spark, samples):
    """alert_intervals vs a sequential fold: runs break on a violating
    sample OR a gap > max_gap; firing iff span >= for_duration."""
    from pyspark.sql import functions as F

    from mandodb_spark import TSDB
    from mandodb_spark.operators.tsdb_ops import alert_intervals

    t0, step, max_gap, for_dur = 1_700_000_000, 60, 120, 180
    pts = sorted(samples)
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(
        [("m", {"s": "x"}, t0 + m * step, 99.0 if hot else 1.0) for m, hot in pts]
    )
    got = sorted(
        (r.start_ts, r.end_ts, r.n_samples, r.firing)
        for r in alert_intervals(
            db.store.relation(), F.col("value") > 50, for_dur, max_gap, metric="m"
        ).collect()
    )

    runs, cur = [], None
    prev_ts, prev_hot = None, False
    for m, hot in pts:
        ts = t0 + m * step
        if hot:
            if cur is None or not prev_hot or ts - prev_ts > max_gap:
                cur = [ts, ts, 0]
                runs.append(cur)
            cur[1], cur[2] = ts, cur[2] + 1
        prev_ts, prev_hot = ts, hot
    want = sorted((s, e, n, e - s >= for_dur) for s, e, n in runs)
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 10_000),
    shift=st.integers(1, 55),
    w=st.integers(8, 24),
    h=st.integers(8, 24),
)
def test_ahash64_is_brightness_and_scale_invariant(seed, shift, w, h):
    """ahash64 invariants (pure function, no Spark): a global brightness
    shift (no clipping) leaves the hash identical — the threshold is the
    downsampled mean; an exact 2x nearest-neighbor upscale leaves it
    identical — the fixed 8x8 grid samples the same texels."""
    import numpy as np

    from mandodb_spark.operators.multimodal import ahash64

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 200, size=(h, w, 3), dtype=np.uint8)
    base = ahash64(w, h, 3, img.tobytes())
    shifted = (img.astype(int) + shift).astype(np.uint8)
    assert ahash64(w, h, 3, shifted.tobytes()) == base
    up = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
    assert ahash64(2 * w, 2 * h, 3, up.tobytes()) == base


_URL_PIECES = ["http", "HTTPS", "://", ":", "/", "?", "#", "&", "=", ".",
               "ex.com", "H", ":80", ":443", "a=1", "utm_source=x"]
#: 2-6 random URL fragments joined by the separator: matching and
#: non-matching strings with one to five separators.
_SEP_STRINGS = st.lists(
    st.lists(st.sampled_from(_URL_PIECES), max_size=5).map("".join),
    min_size=2, max_size=6).map("\x01".join)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(urls=st.lists(_SEP_STRINGS, min_size=1, max_size=30))
def test_url_parts_agrees_with_canonicalize_url_on_separator_strings(spark, urls):
    """url_parts + canonicalize_from_parts == canonicalize_url on random
    strings that contain the ``\\x01`` group separator — matching and
    non-matching inputs alike, including non-matches that split into
    exactly five parts."""
    from mandodb_spark.operators.web import (canonicalize_from_parts,
                                             canonicalize_url, url_parts)

    rows = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", url_parts(F.col("url")).alias("p"),
    ).select(
        "url",
        canonicalize_from_parts(F.col("p")).alias("via_parts"),
        canonicalize_url(F.col("url")).alias("via_composed"),
    ).collect()
    for r in rows:
        assert r.via_parts == r.via_composed, (r.url, r.via_parts,
                                               r.via_composed)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "ftp"]),
    host=st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,6}(\.[A-Za-z]{2,5}){1,2}", fullmatch=True),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.sampled_from(["", "/", "/a/b", "/x"]),
    params=st.lists(
        st.sampled_from(["a=1", "b=2", "utm_source=x", "gclid=9", "z="]),
        max_size=4),
    frag=st.sampled_from(["", "#f"]),
)
def test_canonicalize_url_idempotent(spark, scheme, host, port, path, params, frag):
    """canon(canon(u)) == canon(u): the canonical form is a fixpoint —
    re-canonicalizing a cleaned URL never changes it (ports, param order,
    tracking removal, fragment drop all stabilize after one pass)."""
    from mandodb_spark.operators.web import canonicalize_url

    url = f"{scheme}://{host}{port}{path}"
    if params:
        url += "?" + "&".join(params)
    url += frag
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonicalize_url(F.col("url")).alias("c")).collect()[0]["c"]
    if once is None:
        return
    twice = spark.createDataFrame([(once,)], "url string") \
        .select(canonicalize_url(F.col("url")).alias("c")).collect()[0]["c"]
    assert twice == once, (url, once, twice)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(xs=st.lists(st.integers(min_value=-1000, max_value=1000),
                   min_size=4, max_size=40))
def test_acf_bounded_by_one(spark, xs):
    """|acf| <= 1 for every lag (Cauchy-Schwarz on the large-lag
    estimator), NULL only when the series is constant."""
    from mandodb_spark.operators.temporal import acf

    df = spark.createDataFrame(
        [("g", t, v) for t, v in enumerate(xs)], "g string, t int, v int")
    for r in acf(df, ["g"], "t", "v", max_lag=3).collect():
        if r["acf"] is not None:
            assert -1.0 - 1e-12 <= r["acf"] <= 1.0 + 1e-12, (xs, r)
        else:
            assert len(set(xs)) == 1


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),
                  st.floats(min_value=-1e6, max_value=1e6,
                            allow_nan=False, allow_infinity=False)),
        min_size=1, max_size=60),
    q=st.floats(min_value=0.0, max_value=1.0),
)
def test_grouped_quantile_cont_equals_percentile(spark, data, q):
    """The grouped rank-probe quantile (round 9's scale-safe
    quantile by/without engine) is BIT-IDENTICAL to Spark's exact
    percentile() per group for arbitrary group shapes, sizes, tie
    patterns, and q — including singleton groups and q landing exactly
    on integral positions."""
    from mandodb_spark.operators.sketch import grouped_quantile_cont

    df = spark.createDataFrame([(f"g{g}", v) for g, v in data],
                               "k string, value double")
    got = {r["k"]: r["value"]
           for r in grouped_quantile_cont(df, ["k"], "value", q,
                                          n_buckets=4).collect()}
    want = {r["k"]: r["value"] for r in df.groupBy("k").agg(
        F.expr(f"percentile(value, {q}d)").alias("value")).collect()}
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    values=st.lists(
        st.floats(min_value=1e-3, max_value=1e6,
                  allow_nan=False, allow_infinity=False)
        .map(lambda v: v * (1 if v > 1 else 1))  # positive magnitudes
        .flatmap(lambda v: st.sampled_from([v, -v])),
        min_size=1, max_size=40),
    q=st.floats(min_value=0.0, max_value=1.0),
    schema=st.sampled_from([0, 2, 3]),
)
def test_native_hist_quantile_matches_python_reference(spark, values, q, schema):
    """hist_quantile over an observed native histogram equals an
    independent pure-Python reference (value-ordered cumulative walk +
    exponential in-bucket interpolation, linear zero bucket) for
    arbitrary signed observation multisets, q, and schema resolutions."""
    import pytest

    from mandodb_spark.functions import native_hist as nh
    from mandodb_spark.model import ROW_SCHEMA
    from tests.test_native_hist import _ref_hist, _ref_quantile

    rows = [("m", {}, 100, float(v)) for v in values]
    rel = nh.observe_histograms(
        spark.createDataFrame(rows, ROW_SCHEMA), schema=schema)
    got = nh.hist_quantile(rel, q).collect()
    ref = _ref_quantile(_ref_hist(values, schema=schema), q)
    assert len(got) == 1
    assert got[0]["value"] == pytest.approx(ref, rel=1e-9)
