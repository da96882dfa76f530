"""The per-file stage's Python gates and W1 flag against their Spark Column
versions: every adversarial row must get the same keep/drop (and the same
overlap flag) from both, because run_pipeline evaluates the Python twins
while perfbench and the composed stage functions evaluate the Columns."""

from __future__ import annotations

import itertools
import random

import pytest

from pyspark.sql import functions as F

from tts_etl_pipeline_spark.audio import filters
from tts_etl_pipeline_spark.audio import params as P
from tts_etl_pipeline_spark.audio.overlap import overlap_flags, with_overlap_flag

NAN, INF = float("nan"), float("inf")


def _spark_keeps(spark, rows, schema, gate):
    """{id: kept} for `gate` evaluated by Spark; a NULL predicate drops."""
    df = spark.createDataFrame(rows, schema)
    return {r[0]: r[1] for r in df.select("id", F.coalesce(gate, F.lit(False))).collect()}


def test_audio_quality_twin_matches_column(spark):
    """F2 over NaN, +-inf and None metrics, the -1.0 music sentinel and each
    threshold's exact boundary. Spark orders NaN above every number, so a
    NaN rms passes `>= MIN_RMS` and a NaN clipping or music ratio fails."""
    rms = [300.0, P.MIN_RMS, 249.999, NAN, INF, -INF, None]
    clip = [0.5, P.MAX_CLIPPING_PERCENT, 1.000001, NAN, INF, -INF, None]
    music = [1.0, P.MUSIC_ENERGY_RATIO, 2.000001, P.MUSIC_ERROR_SENTINEL, -0.5, NAN, INF, -INF, None]
    rows = [(i, *m) for i, m in enumerate(itertools.product(rms, clip, music))]
    got = _spark_keeps(
        spark, rows, "id int, rms double, clipping_percent double, music_ratio double",
        filters.audio_quality_gate(),
    )
    want = {i: filters.audio_quality_ok(*m) for i, *m in rows}
    assert got == want
    # kept: rms 300, 250, NaN, inf x clipping 0.5, 1.0, -inf x music 1.0,
    # 2.0, -0.5, -inf
    assert sum(want.values()) == 4 * 3 * 4
    nan_rms = next(i for i, r, c, m in rows if r != r and c == 0.5 and m == 1.0)
    assert want[nan_rms] is True


def test_asr_length_twin_matches_column(spark):
    """F3 at its exact boundary (duration + 2 x padding == MAX_ASR_INPUT_MS),
    one past it, negative durations and None bounds."""
    edge = P.MAX_ASR_INPUT_MS - 2 * P.SEGMENT_PADDING_MS
    bounds = [(0, edge), (0, edge + 1), (1000, 1000 + edge), (5000, 4000), (0, 0),
              (None, 100), (100, None), (None, None), (0, 10**12)]
    rows = [(i, s, e) for i, (s, e) in enumerate(bounds)]
    got = _spark_keeps(spark, rows, "id int, start_ms long, end_ms long",
                       filters.asr_length_guard())
    want = {i: filters.asr_length_ok(s, e) for i, s, e in rows}
    assert got == want
    assert [want[i] for i in range(3)] == [True, False, True]


TEXTS = [
    None, "", " ", "  ", "\t", "\t\t", " \t ", "one", "two words", "three words here",
    "  lead and trail  ", "a b ", " a b", "a b\t", "\ta b", "\t a b", "a\tb\tc",
    "a\nb\nc", "a\r\nb c", "a\x0bb c", "a\x0cb c", "a\u00a0b\u00a0c", "a\u2003b c",
    "\u00a0a b\u00a0", "a  b", "a b c d e f", "1234 5678 9999", "12 34 x",
    "[Music] plays here now", "[MUSIC] Plays Here", "Plays [ApPlause] here now",
    "(laughs) a b c", "so anyway (LAUGHS) right", "[a\rb] c d e", "[a\nb] c d e",
    "[a\u2028b] c d e", "(a\u2029b) c d", "[a\u0085b] c d e", "[] c d e",
    "( ) c d e", "] backwards [ tag here", "[unclosed tag here now",
    "THANKS FOR WATCHING all", "Thank You For Watching x y", "thanks  for watching a b",
    "thanks\tfor watching a b", "than\u212as for watching a b", "\u0130stanbul [x] y z",
    "\u00f1 \u00fc \u00df", "\u6570\u636e \u5904\u7406 \u7ba1\u9053", "\u00dcn\u00efc\u00f6d\u00e9 w\u00f6rds h\u00e9r\u00e8",
    "caf\u00e9 au lait", "x", "x y", "x y z",
]

TEXT_GATES = [
    (filters.transcript_nonempty, filters.transcript_nonempty_ok),
    (filters.transcript_alpha, filters.transcript_alpha_ok),
    (filters.transcript_not_hallucination, filters.transcript_not_hallucination_ok),
    (filters.text_quality_gate, filters.text_quality_ok),
]


@pytest.mark.parametrize("column, twin", TEXT_GATES, ids=lambda g: g.__name__)
def test_text_twin_matches_column(spark, column, twin):
    """F4-F6 over whitespace Spark and Python read differently (`trim`
    strips spaces only, Java's `\\s` is ASCII-only), line terminators inside
    a tag (Java's `.` stops at \\r, \\u0085, \\u2028 and \\u2029, Python's
    only at \\n), mixed-case tags and None, empty, one-word and non-ASCII
    text."""
    rows = list(enumerate(TEXTS))
    got = _spark_keeps(spark, rows, "id int, text string", column())
    want = {i: twin(t) for i, t in rows}
    assert got == want, [(TEXTS[i], got[i], want[i]) for i in got if got[i] != want[i]]
    assert len(set(want.values())) == 2  # the rows exercise both outcomes


# one-segment file; case differences; a text ending in a tab before one
# starting with a tab (both boundary words are empty); a trailing space
# before a leading one (trimmed, so the words match); a None text
EDGE_FILES = [
    ["home sweet home"],
    ["we go Home", "HOME again", "nothing"],
    ["ends with tab\t", "\tstarts with tab"],
    ["a b ", " b c"],
    [None, "x"],
]


def _survivor_files(seed: int) -> list[tuple[str, int, str | None]]:
    """EDGE_FILES plus seeded survivor lists: repeated boundary words, case
    differences, leading whitespace that yields an empty first word,
    one-segment files and None texts."""
    rows = [(f"edge{f}.wav", k * 4000, t) for f, texts in enumerate(EDGE_FILES)
            for k, t in enumerate(texts)]
    rng = random.Random(seed)
    vocab = ["home", "Home", "HOME", "we", "go", "bridge", "rain", "\u00c4rger",
             "\u00e4rger", "\u03a3\u039f\u03a6\u039f\u03a3", "\u03c3\u03bf\u03c6\u03bf\u03c2"]
    pads = ["", "", "", " ", "\t", " \t", "\t ", "\n"]
    for f in range(40):
        n = 1 if f % 5 == 0 else rng.randint(2, 7)
        for k in range(n):
            if rng.random() < 0.03:
                text = None
            else:
                body = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
                text = rng.choice(pads) + body + rng.choice(pads)
            rows.append((f"f{f:02d}.wav", rng.randint(0, 3) * 100 + k * 4000, text))
    return rows


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_overlap_twin_matches_window(spark, seed):
    """W1: `overlap_flags` over each file's texts in start_ms order equals
    `with_overlap_flag`'s lag/lead window on the same rows."""
    rows = _survivor_files(seed)
    df = spark.createDataFrame(rows, "original_name string, start_ms long, text string")
    got = {
        (r["original_name"], r["start_ms"]): bool(r["overlap_flag"])
        for r in with_overlap_flag(df).collect()
    }
    want = {}
    for name, group in itertools.groupby(sorted(rows, key=lambda r: r[:2]), key=lambda r: r[0]):
        group = list(group)
        for (_, start, _), flag in zip(group, overlap_flags([t for _, _, t in group])):
            want[(name, start)] = flag
    assert got == want
    assert 0 < sum(want.values()) < len(want)

