"""Property-based tests (hypothesis) — SURVEY.md §5.2:

- T1 invariants: every emitted segment is within [3s, 15s]; segments are
  ordered and non-overlapping in their unpadded bounds; emitted spans stay
  inside the union of input nonsilent intervals; padding clamps to the file.
- W1 symmetry: the overlap flag is set on both members of a matching
  adjacent pair or on neither.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import CC_PATHS, broadcast_threshold
from tts_etl_pipeline_spark.audio import kernels
from tts_etl_pipeline_spark.audio.params import (
    MAX_DURATION_MS,
    MIN_DURATION_MS,
    SEGMENT_PADDING_MS,
)


@st.composite
def nonsilent_intervals(draw):
    """Random ordered, disjoint (start, end) interval lists like
    detect_nonsilent would produce."""
    n = draw(st.integers(0, 8))
    gaps = draw(st.lists(st.integers(300, 2000), min_size=n, max_size=n))
    lens = draw(st.lists(st.integers(50, 40_000), min_size=n, max_size=n))
    out, cur = [], 0
    for g, ln in zip(gaps, lens):
        start = cur + g
        out.append((start, start + ln))
        cur = start + ln
    total = cur + draw(st.integers(0, 1000))
    return out, total


@given(nonsilent_intervals())
@settings(max_examples=200, deadline=None)
def test_segment_invariants(iv_total):
    intervals, total_ms = iv_total
    segs = kernels.segment_intervals(intervals, total_ms)
    prev_end = -1
    for s, e, ps, pe in segs:
        dur = e - s
        assert MIN_DURATION_MS <= dur <= MAX_DURATION_MS
        # ordered, non-overlapping unpadded bounds; pass-1 split pieces of
        # one long interval legitimately touch (e_prev == s_next at 15s cuts)
        assert s >= prev_end
        prev_end = e
        assert 0 <= ps <= s and e <= pe <= total_ms
        assert s - ps <= SEGMENT_PADDING_MS and pe - e <= SEGMENT_PADDING_MS
        # every segment lies inside the span of the input intervals
        assert intervals and s >= intervals[0][0] and e <= intervals[-1][1]


@given(nonsilent_intervals())
@settings(max_examples=200, deadline=None)
def test_segment_coverage_only_splits_and_merges(iv_total):
    """Each emitted segment's endpoints coincide with pass-1 piece
    boundaries: starts/ends are either interval edges or 15s split points."""
    intervals, total_ms = iv_total
    split_points = set()
    for s, e in intervals:
        split_points.add(s)
        split_points.add(e)
        cur = s
        while e - cur > MAX_DURATION_MS:
            cur += MAX_DURATION_MS
            split_points.add(cur)
    for s, e, *_ in kernels.segment_intervals(intervals, total_ms):
        assert s in split_points and e in split_points


WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "echo"])


@st.composite
def transcripts(draw):
    n = draw(st.integers(1, 6))
    rows = []
    for i in range(n):
        k = draw(st.integers(3, 6))
        text = " ".join(draw(st.lists(WORDS, min_size=k, max_size=k)))
        rows.append(("f.wav", i * 4000, i * 4000 + 3000, text))
    return rows


@given(rows=transcripts())
@settings(max_examples=20, deadline=None)
def test_overlap_flag_pairwise_symmetry(spark_module, rows):
    from tts_etl_pipeline_spark.audio.overlap import with_overlap_flag

    df = spark_module.createDataFrame(
        rows, "original_name string, start_ms long, end_ms long, text string"
    )
    got = sorted(with_overlap_flag(df).collect(), key=lambda r: r["start_ms"])
    # recompute expected flags in plain python (pa.py:311-330 semantics)
    texts = [r["text"].lower().split() for r in got]
    expected = [False] * len(got)
    for i in range(1, len(got)):
        if texts[i - 1][-1] == texts[i][0]:
            expected[i - 1] = True
            expected[i] = True
    assert [r["overlap_flag"] for r in got] == expected


# hypothesis is incompatible with function-scoped pytest fixtures that carry
# session state; expose the session spark fixture under a different name.
import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark_module(spark):
    return spark


# ---------------------------------------------------------------------------
# Bloom filter invariants (functions/bloom.py): membership is NEVER lost —
# not by any add order, not by serialization, not by merging — and merge is
# a homomorphism (merge(build(A), build(B)) == build(A | B) bit-for-bit).
# These are the properties d10's correctness proof rests on.
# ---------------------------------------------------------------------------
@given(
    st.lists(st.text(min_size=0, max_size=30), max_size=80),
    st.lists(st.text(min_size=0, max_size=30), max_size=80),
)
@settings(max_examples=100, deadline=None)
def test_bloom_membership_and_merge_homomorphism(xs, ys):
    from tts_etl_pipeline_spark.functions.bloom import BloomFilter

    a, b, whole = (BloomFilter(n_items=1000) for _ in range(3))
    for x in xs:
        a.add(x)
        whole.add(x)
    for y in ys:
        b.add(y)
        whole.add(y)
    merged = BloomFilter.from_bytes(a.merge(b).to_bytes(), n_items=1000)
    assert (merged.bits == whole.bits).all()
    assert all(merged.might_contain(v) for v in xs + ys)


# ---------------------------------------------------------------------------
# Connected components vs a union-find oracle on arbitrary random graphs —
# the hypothesis twin of the 5k-node stress test (smaller graphs, many
# shapes: self-loops, duplicate edges, both orientations, isolated from the
# edge-incident contract's perspective).
# ---------------------------------------------------------------------------
@CC_PATHS
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=60
    )
)
@settings(max_examples=12, deadline=None)
def test_bigstar_components_match_union_find(spark_module, cc_threshold, edges):
    from tts_etl_pipeline_spark.functions.graph import connected_components

    real = [e for e in edges if e[0] != e[1]]
    parent = list(range(26))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in real:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    touched = {v for e in real for v in e}
    expected = {v: find(v) for v in touched}
    df = spark_module.createDataFrame(edges, "src long, dst long")
    with broadcast_threshold(spark_module, cc_threshold):
        got = {r["node"]: r["label"] for r in connected_components(df).collect()}
    assert got == expected


# --------------------------------------------------------------------------
# B6 codec invariants: BMP round-trip is bit-exact at every (w, h) incl.
# every row-padding class (w mod 4); y4m frame sampling hits exactly the
# ceil(n_frames / frames_per_period) cadence.
# --------------------------------------------------------------------------
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_any_shape(w, h, seed):
    import numpy as np

    from tts_etl_pipeline_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_image(MM.encode_bmp(img)), img)


@given(
    n_frames=st.integers(1, 40),
    fps=st.integers(1, 30),
    every_ms=st.sampled_from([1, 250, 1000, 5000]),
)
@settings(max_examples=30, deadline=None)
def test_y4m_sampling_cadence(n_frames, fps, every_ms):
    import numpy as np

    from tts_etl_pipeline_spark.operators import multimodal as MM

    w, h = 8, 6
    rng = np.random.default_rng(7)
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()
    body = b""
    frame_payload = w * h + 2 * (w // 2) * (h // 2)
    for _ in range(n_frames):
        body += b"FRAME\n" + rng.integers(0, 256, frame_payload, dtype=np.uint8).tobytes()
    frames = MM.sample_video_frames(head + body, every_ms=every_ms)
    # reference cadence: greedy next_ts += every_ms from 0
    ms_per_frame = 1000.0 / fps
    expect, next_ts = 0, 0.0
    for i in range(n_frames):
        if i * ms_per_frame + 1e-9 >= next_ts:
            expect += 1
            next_ts += every_ms
    assert len(frames) == expect
    assert all(f.shape == (h, w) for _, f in frames)


def test_c14_skyline_is_exact_antichain(spark, sf_dir):
    """The skyline must be an antichain (no member dominates another) AND
    complete (every non-member is dominated by some member) — checked by
    brute force against the feature relation itself."""
    from tts_etl_pipeline_spark.operators.curation import c14_pareto_skyline
    from tts_etl_pipeline_spark.sources.tables import table
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ")
    feats = [
        (r[0], r[1], r[2], r[3])
        for r in docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint"),
            F.size(F.array_distinct(toks)).cast("bigint"),
            F.array_max(F.transform(toks, F.length)).cast("bigint"),
        ).collect()
    ]

    def dominates(g, f):
        # maximize n_unique/max_word, minimize n_chars; strict on >= one axis
        ge = g[2] >= f[2] and g[3] >= f[3] and g[1] <= f[1]
        gt = g[2] > f[2] or g[3] > f[3] or g[1] < f[1]
        return ge and gt

    got = {
        r["doc_id"]: (r["doc_id"], r["n_chars"], r["n_unique"], r["max_word"])
        for r in c14_pareto_skyline(spark, sf_dir).collect()
    }
    sky = list(got.values())
    for f in sky:
        assert not any(dominates(g, f) for g in feats), f
    for f in feats:
        if f[0] not in got:
            assert any(dominates(g, f) for g in sky), f


def test_d16_containment_detects_exact_duplicates(spark, tmp_path):
    """A verbatim duplicate pair must score containment 1.0 in BOTH
    directions; a doc too short for MIN_SHINGLES must never appear as the
    contained side; a prefix excerpt must be contained in its source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_etl_pipeline_spark.operators.dedup import d16_containment_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi")
    docs = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),                     # verbatim dup
        (2, "alpha beta gamma delta epsilon zeta eta theta iota", "en", "s", 50),  # prefix
        (3, "one two", "en", "s", 7),                        # < MIN_SHINGLES
        (4, "totally unrelated words entirely different here now", "en", "s", 51),
        # filler corpus so the MAX_DF_FRACTION stop-shingle cap (0.5·n_docs)
        # does not swallow the duplicated trio's shared bigrams
        (5, "red orange yellow green blue indigo violet colors", "en", "s", 49),
        (6, "north south east west compass points directions map", "en", "s", 52),
        (7, "spring summer autumn winter seasons cycle year round", "en", "s", 53),
        (8, "piano violin cello flute oboe clarinet orchestra music", "en", "s", 55),
        (9, "copper silver gold platinum metals table chemistry lab", "en", "s", 55),
    ]
    root = tmp_path / "sf"
    root.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": [d[1] for d in docs],
                "lang": [d[2] for d in docs],
                "source": [d[3] for d in docs],
                "n_chars": pa.array([d[4] for d in docs], pa.int64()),
            }
        ),
        str(root / "documents.parquet"),
    )
    rows = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in d16_containment_pairs(spark, str(root)).collect()
    }
    assert rows[(0, 1)] == 1.0 and rows[(1, 0)] == 1.0
    assert rows[(2, 0)] == 1.0 and rows[(2, 1)] == 1.0
    assert all(c != 3 for c, _ in rows)  # too short to be "contained"
    assert (0, 2) not in rows  # asymmetry: the big doc is NOT in the excerpt
    assert not any(3 in p or 4 in p for p in rows)


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    scale=st.floats(min_value=0.05, max_value=0.95),
)
@settings(max_examples=25, deadline=None)
def test_audio_fingerprint_scale_invariance(seed, scale):
    """m6's invariance law as a PROPERTY, through the real WAV encode ->
    decode -> fingerprint path: for ANY deterministic tone set and ANY
    amplitude scale in [0.05, 0.95], the energy-share fingerprint is
    bit-identical — including the int16 quantization the scaling
    changes. This is where the law could actually break (a band whose
    share drifts across the 1/64 line under coarser quantization), so
    it gets fuzzed, not just the six fixture bases."""
    import numpy as np

    from tts_etl_pipeline_spark.audio.codecs import WAVE_FORMAT_PCM, wrap_wav
    from tts_etl_pipeline_spark.audio.decode import decode_wav_bytes
    from tts_etl_pipeline_spark.operators.multimodal import audio_fingerprint64

    rng = np.random.default_rng(seed)
    rate, n = 16000, 16000
    t = np.arange(n) / rate
    bands = rng.choice(np.arange(4, 60), size=8, replace=False)
    x = np.zeros(n)
    for bidx in bands:
        x += 0.1 * np.sin(2 * np.pi * (float(bidx) * 125.0 + 62.5) * t)

    def fp(sig):
        pcm = np.round(np.clip(sig, -0.999, 0.999) * 32767.0).astype(np.int16)
        payload = wrap_wav(WAVE_FORMAT_PCM, rate, pcm.tobytes(), 2, 16)
        decoded, _r, _c = decode_wav_bytes(payload)
        return audio_fingerprint64(decoded)

    assert fp(x) == fp(scale * x)


# ---------------------------------------------------------------------------
# Partition-transform soundness (r12): the never-skip-a-matching-row law
# ---------------------------------------------------------------------------


def _py_transform(t, param, v):
    """Independent pure-Python reference of each partition transform —
    deliberately NOT the production derivation (_derive_probe), so the
    property below cross-checks two implementations."""
    import datetime as dt
    import zlib

    if t == "identity":
        return v
    if t == "bucket":
        s = str(v) if not isinstance(v, str) else v
        return zlib.crc32(s.encode("utf-8")) % param
    if t == "truncate":
        if isinstance(v, str):
            return v[:param]
        return v - (v % param)
    d = v if isinstance(v, dt.date) else dt.date.fromisoformat(str(v)[:10])
    if t == "year":
        return d.year - 1970
    if t == "month":
        return (d.year - 1970) * 12 + d.month - 1
    if t == "day":
        return (d - dt.date(1970, 1, 1)).days
    if t == "hour":
        ts = (
            v
            if isinstance(v, dt.datetime)
            else dt.datetime(d.year, d.month, d.day)
        )
        return int((ts - dt.datetime(1970, 1, 1)) // dt.timedelta(hours=1))
    raise AssertionError(t)


@given(
    st.integers(min_value=-(10**12), max_value=10**12),
    st.integers(min_value=0, max_value=10**10),
    st.integers(min_value=0, max_value=10**10),
    st.sampled_from([("truncate", 1), ("truncate", 7), ("truncate", 1000),
                     ("bucket", 2), ("bucket", 16), ("identity", None)]),
)
@settings(max_examples=300, deadline=None)
def test_partition_probe_soundness_ints(v, a, b, tp):
    """For every INT value v and range [lo, hi] containing v: the derived
    transform-space probe must contain transform(v) — a violation would
    let partition pruning skip a file holding a matching row. Bucket
    probes only derive on equality (lo == hi); monotone transforms derive
    on any closed range."""
    from tts_etl_pipeline_spark.sources.versioned import _derive_probe

    t, param = tp
    lo, hi = v - min(a, b), v + max(a, b)
    d = _derive_probe(t, param, lo, hi)
    tv = _py_transform(t, param, v)
    if t == "bucket":
        if lo == hi:
            assert d == (tv, tv)
        else:
            assert d is None  # a range derives nothing on a hash transform
    else:
        assert d is not None
        assert d[0] <= tv <= d[1]


@given(
    st.dates(min_value=__import__("datetime").date(1900, 1, 2),
             max_value=__import__("datetime").date(2100, 12, 30)),
    st.integers(min_value=0, max_value=5000),
    st.sampled_from(["year", "month", "day"]),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_partition_probe_soundness_dates(v, span, t, as_str):
    """Same law over DATE values (date objects AND ISO strings), where
    the transforms are calendar-aware: for any range containing v, the
    derived probe contains transform(v)."""
    import datetime as dt

    from tts_etl_pipeline_spark.sources.versioned import _derive_probe

    lo = v - dt.timedelta(days=span)
    hi = v + dt.timedelta(days=span)
    if as_str:
        lo, hi = lo.isoformat(), hi.isoformat()
    d = _derive_probe(t, None, lo, hi)
    tv = _py_transform(t, None, v)
    assert d is not None
    assert d[0] <= tv <= d[1]


@given(
    st.text(min_size=0, max_size=30),
    st.sampled_from([1, 2, 4, 16]),
)
@settings(max_examples=300, deadline=None)
def test_partition_probe_soundness_strings(v, w):
    """String truncate: for the EQUALITY range [v, v] the probe contains
    v[:w] (prefix order also makes any [lo, hi] ∋ v sound, since
    truncation is monotone under lexicographic order — checked via a
    random enclosing range too)."""
    from tts_etl_pipeline_spark.sources.versioned import _derive_probe

    d = _derive_probe("truncate", w, v, v)
    tv = _py_transform("truncate", w, v)
    assert d is not None and d[0] <= tv <= d[1]
    lo, hi = min(v, "m" * 3), max(v, "m" * 3)
    d2 = _derive_probe("truncate", w, lo, hi)
    assert d2 is not None and d2[0] <= tv <= d2[1]


def test_c14_skyline_kernel_matches_bruteforce():
    """The O(n log n) sort-filter-skyline kernel (r13 optimization) must
    return exactly the brute-force dominance filter's rows — including
    all-axes tie groups surviving together — across randomized frames in
    both a heavy-tie regime (small value domain) and a spread regime."""
    import numpy as np
    import pandas as pd

    from tts_etl_pipeline_spark.operators.curation import _c14_skyline_pdf

    def brute(pdf):
        X = np.stack(
            [
                pdf["n_unique"].to_numpy(np.int64),
                pdf["max_word"].to_numpy(np.int64),
                -pdf["n_chars"].to_numpy(np.int64),
            ],
            axis=1,
        )
        n = len(X)
        keep = np.ones(n, dtype=bool)
        for i in range(n):
            ge = (X >= X[i]).all(1)
            gt = (X > X[i]).any(1)
            keep[i] = not (ge & gt).any()
        return pdf[keep]

    rng = np.random.default_rng(42)
    for trial in range(200):
        n = int(rng.integers(0, 80))
        lo, hi = (1, 5) if trial % 2 else (1, 50)  # ties-heavy vs spread
        pdf = pd.DataFrame(
            {
                "doc_id": np.arange(n),
                "n_chars": rng.integers(lo, hi, n),
                "n_unique": rng.integers(lo, hi, n),
                "max_word": rng.integers(lo, hi, n),
            }
        )
        want = set(brute(pdf)["doc_id"])
        got = set(_c14_skyline_pdf(pdf)["doc_id"])
        assert got == want, (trial, sorted(got ^ want))
