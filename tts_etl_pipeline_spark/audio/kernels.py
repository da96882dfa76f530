"""Pure-numpy DSP kernels — the per-segment math, free of any Spark
dependency so unit tests exercise them directly against hand-computed
oracles, and the Arrow stages in decode.py/segmentation.py/dsp.py/pipeline.py
stay thin wrappers.

All kernels take float32/float64 samples normalized to [-1, 1].
"""

from __future__ import annotations

import numpy as np

from tts_etl_pipeline_spark.audio import params as P


def rms_int_scale(samples: np.ndarray) -> float:
    """pydub-style integer RMS (pa.py:182): sqrt(mean(x_int^2)) on int16-scale
    samples. We store normalized floats, so rescale by 32767 — keeps the
    MIN_RMS=250 threshold (pa.py:25) meaningful (SURVEY §7 hard-part 2)."""
    if samples.size == 0:
        return 0.0
    x = samples.astype(np.float64) * P.INT16_FULL_SCALE
    return float(np.sqrt(np.mean(x * x)))


def clipping_percent(samples: np.ndarray) -> float:
    """% of samples with |x| >= 0.98 after normalization (pa.py:184-189)."""
    if samples.size == 0:
        return 0.0
    return float(np.mean(np.abs(samples.astype(np.float64)) >= P.CLIPPING_THRESHOLD) * 100.0)


def music_ratio(samples: np.ndarray, frame_rate: int) -> float:
    """Band-energy heuristic (pa.py:191-210), re-specified as FFT band RMS
    (SURVEY §7 hard-part 3: pydub's single-pole filter chain has no closed
    form; the sentinel/threshold contract is preserved and re-validated on
    fixtures):

      total  = RMS of 100–7500 Hz band (floored at 1, pa.py:196-197)
      bass   = RMS of < 80 Hz
      treble = RMS of > 8000 Hz
      ratio  = (bass + treble) / max(1, total - (bass + treble))   (pa.py:202-206)

    Any exception returns the -1.0 sentinel (pa.py:208-210) which the F2
    gate rejects explicitly (pa.py:227-228).
    """
    try:
        x = samples.astype(np.float64) * P.INT16_FULL_SCALE
        n = x.size
        if n == 0:
            return P.MUSIC_ERROR_SENTINEL
        spec = np.fft.rfft(x)
        freqs = np.fft.rfftfreq(n, d=1.0 / frame_rate)
        # Parseval: RMS restricted to a band = sqrt(sum |X_k|^2 in band) / n
        # (x is real; rfft halves need doubling except DC/Nyquist — the
        # constant factor cancels in the ratio but we keep it exact anyway)
        weights = np.full(spec.size, 2.0)
        weights[0] = 1.0
        if n % 2 == 0:
            weights[-1] = 1.0
        power = weights * np.abs(spec) ** 2 / (n * n)

        def band_rms(lo: float, hi: float) -> float:
            m = (freqs >= lo) & (freqs <= hi)
            return float(np.sqrt(power[m].sum()))

        total = max(1.0, band_rms(P.MUSIC_BAND_LOW_HZ, P.MUSIC_BAND_HIGH_HZ))
        bass = band_rms(0.0, P.MUSIC_BASS_HZ)
        treble = band_rms(P.MUSIC_TREBLE_HZ, float(frame_rate))
        music = bass + treble
        return music / max(1.0, total - music)
    except Exception:
        return P.MUSIC_ERROR_SENTINEL


def _one_pole_low_pass(x: np.ndarray, cutoff_hz: float, rate: int) -> np.ndarray:
    """pydub effects.low_pass_filter, line-faithful (mono int16 domain):
    float accumulator `last_val += alpha * (x[i] - last_val)`, each OUTPUT
    sample truncated with int(). Sequential by definition — same O(n)
    Python-loop cost the reference pays inside pydub."""
    rc = 1.0 / (cutoff_hz * 2 * np.pi)
    dt = 1.0 / rate
    alpha = dt / (rc + dt)
    out = np.empty(x.size, dtype=np.int64)
    if x.size == 0:
        return out
    last = float(x[0])
    out[0] = int(x[0])
    xi = x.astype(np.float64)
    for i in range(1, x.size):
        last = last + alpha * (xi[i] - last)
        out[i] = int(last)
    return out


def _one_pole_high_pass(x: np.ndarray, cutoff_hz: float, rate: int) -> np.ndarray:
    """pydub effects.high_pass_filter, line-faithful (mono int16 domain):
    `last_val = alpha * (last_val + x[i] - x[i-1])`, output int-truncated
    and clamped to the int16 range."""
    rc = 1.0 / (cutoff_hz * 2 * np.pi)
    dt = 1.0 / rate
    alpha = rc / (rc + dt)
    out = np.empty(x.size, dtype=np.int64)
    if x.size == 0:
        return out
    last = float(x[0])
    out[0] = int(x[0])
    xi = x.astype(np.float64)
    for i in range(1, x.size):
        last = alpha * (last + xi[i] - xi[i - 1])
        out[i] = int(min(max(last, -32768.0), 32767.0))
    return out


def _audioop_rms(x: np.ndarray) -> int:
    """audioop.rms semantics: int(sqrt(sum(x^2)/n)) on integer samples."""
    if x.size == 0:
        return 0
    return int(np.sqrt(np.mean(x.astype(np.float64) ** 2)))


def music_ratio_pydub(samples: np.ndarray, frame_rate: int) -> float:
    """P7 with the reference's EXACT pydub filter chain (pa.py:191-210),
    re-implemented from pydub's published effects.py (single-pole RC
    filters, int-truncated per output sample, audioop integer RMS) since
    pydub itself is not in this runtime:

        calc  = high_pass(100) |> low_pass(7500)       (pa.py:193)
        total = max(1, rms(calc))                      (pa.py:195-197)
        bass  = rms(calc |> low_pass(MUSIC_BASS_HZ))   (pa.py:199)
        treble= rms(calc |> high_pass(MUSIC_TREBLE_HZ))(pa.py:200)
        ratio = (bass+treble) / max(1, total-bass-treble)  (pa.py:202-206)

    The vectorized FFT band-RMS version (music_ratio above) remains the
    fast default in the F2 gate; this faithful variant exists so the
    deviation is a choice, not a gap, and both classify the synth
    fixtures identically (tests/test_audio_kernels.py)."""
    try:
        if samples.size == 0:
            return P.MUSIC_ERROR_SENTINEL
        x = np.clip(
            np.rint(samples.astype(np.float64) * P.INT16_FULL_SCALE),
            -32768,
            32767,
        ).astype(np.int64)
        calc = _one_pole_low_pass(
            _one_pole_high_pass(x, P.MUSIC_BAND_LOW_HZ, frame_rate),
            P.MUSIC_BAND_HIGH_HZ,
            frame_rate,
        )
        total = max(1, _audioop_rms(calc))
        bass = _audioop_rms(_one_pole_low_pass(calc, P.MUSIC_BASS_HZ, frame_rate))
        treble = _audioop_rms(
            _one_pole_high_pass(calc, P.MUSIC_TREBLE_HZ, frame_rate)
        )
        non_speech = bass + treble
        return non_speech / max(1, total - non_speech)
    except Exception:
        return P.MUSIC_ERROR_SENTINEL


def peak_normalize(samples: np.ndarray, headroom_db: float = 0.1) -> np.ndarray:
    """Loudness (peak) normalization (pa.py:85-87, pydub effects.normalize):
    scale so the peak sits at -headroom_db dBFS; silent input unchanged."""
    peak = float(np.max(np.abs(samples))) if samples.size else 0.0
    if peak <= 0.0:
        return samples
    target = 10.0 ** (-headroom_db / 20.0)
    return (samples.astype(np.float64) * (target / peak)).astype(np.float32)


def downmix_mono(samples: np.ndarray, channels: int) -> np.ndarray:
    """Channel-interleaved -> mono mean (pa.py:88 set_channels(1))."""
    if channels <= 1:
        return samples.astype(np.float32)
    n = (samples.size // channels) * channels
    return samples[:n].reshape(-1, channels).mean(axis=1).astype(np.float32)


def resample_linear(samples: np.ndarray, src_rate: int, dst_rate: int) -> np.ndarray:
    """Resample to dst_rate (pa.py:89 set_frame_rate(16000)). scipy is not in
    the runtime, so this is deterministic linear interpolation — adequate for
    the pipeline's metrics/segmentation; swap in polyphase on a real cluster."""
    if src_rate == dst_rate or samples.size == 0:
        return samples.astype(np.float32)
    n_out = int(round(samples.size * dst_rate / src_rate))
    src_t = np.arange(samples.size, dtype=np.float64) / src_rate
    dst_t = np.arange(n_out, dtype=np.float64) / dst_rate
    return np.interp(dst_t, src_t, samples.astype(np.float64)).astype(np.float32)


def detect_nonsilent(
    samples: np.ndarray,
    frame_rate: int,
    min_silence_len_ms: int = P.MIN_SILENCE_LEN_MS,
    silence_thresh_db: float = P.SILENCE_THRESHOLD_DB,
) -> list[tuple[int, int]]:
    """pydub.silence.detect_nonsilent equivalent (pa.py:104-106) with
    seek_step=1 ms: a window of min_silence_len starting at ms position i is
    'silent' if its dBFS < silence_thresh; the union of silent windows forms
    the silent mask; nonsilent intervals are the complement. Implemented with
    a cumulative-sum rolling window (O(n)) instead of pydub's per-window
    slices (O(n*window))."""
    n_ms = int(samples.size * 1000 / frame_rate)
    if n_ms < min_silence_len_ms:
        return [(0, n_ms)] if n_ms > 0 and _dbfs(samples) >= silence_thresh_db else []
    # per-ms energy via bucketed sums
    spf = frame_rate / 1000.0  # samples per ms
    idx = (np.arange(n_ms + 1) * spf).astype(np.int64)
    x2 = np.square(samples.astype(np.float64))
    c = np.concatenate(([0.0], np.cumsum(x2)))
    ms_energy = c[np.minimum(idx[1:], samples.size)] - c[np.minimum(idx[:-1], samples.size)]
    ms_count = np.maximum(np.minimum(idx[1:], samples.size) - np.minimum(idx[:-1], samples.size), 1)
    # rolling window over min_silence_len ms, one start per ms position
    w = min_silence_len_ms
    ce = np.concatenate(([0.0], np.cumsum(ms_energy)))
    cc = np.concatenate(([0], np.cumsum(ms_count)))
    win_energy = ce[w:] - ce[:-w]
    win_count = cc[w:] - cc[:-w]
    win_rms = np.sqrt(win_energy / np.maximum(win_count, 1))
    thresh = 10.0 ** (silence_thresh_db / 20.0)
    silent_start = win_rms < thresh  # window [i, i+w) is silent
    # union of silent windows -> silent ms mask
    silent = np.zeros(n_ms, dtype=bool)
    starts = np.flatnonzero(silent_start)
    if starts.size:
        # merge runs of consecutive starts into [run_start, run_end + w)
        run_breaks = np.flatnonzero(np.diff(starts) > 1)
        run_begin = np.concatenate(([0], run_breaks + 1))
        run_end = np.concatenate((run_breaks, [starts.size - 1]))
        for b, e in zip(starts[run_begin], starts[run_end]):
            silent[b : e + w] = True
    # complement -> nonsilent intervals
    out: list[tuple[int, int]] = []
    nonsilent = ~silent
    edges = np.flatnonzero(np.diff(np.concatenate(([0], nonsilent.view(np.int8), [0]))))
    for s, e in zip(edges[::2], edges[1::2]):
        out.append((int(s), int(e)))
    return out


def _dbfs(samples: np.ndarray) -> float:
    if samples.size == 0:
        return -float("inf")
    r = float(np.sqrt(np.mean(np.square(samples.astype(np.float64)))))
    return 20.0 * np.log10(r) if r > 0 else -float("inf")


def segment_intervals(
    nonsilent: list[tuple[int, int]],
    total_ms: int,
    min_duration_ms: int = P.MIN_DURATION_MS,
    max_duration_ms: int = P.MAX_DURATION_MS,
    padding_ms: int = P.SEGMENT_PADDING_MS,
) -> list[tuple[int, int, int, int]]:
    """T1's two-pass interval algebra (pa.py:95-164), sequential per file:

    Pass 1 (pa.py:111-122): intervals longer than max_duration are chopped
    into consecutive max_duration windows from their start (last piece may be
    short — reference bug B3 kept for parity).
    Pass 2 (pa.py:124-147): greedy merge — the running segment absorbs the
    next interval while next_end - seg_start <= max_duration; on overflow the
    running segment is emitted if >= min_duration, else dropped.
    Padding (pa.py:149-161): slice bounds are [start-padding, end+padding]
    clamped to the file; start_ms/end_ms stay unpadded.

    Returns (start_ms, end_ms, pad_start_ms, pad_end_ms) tuples.
    """
    if not nonsilent:
        return []
    # pass 1: split oversized intervals
    split: list[tuple[int, int]] = []
    for s, e in nonsilent:
        if e - s > max_duration_ms:
            cur = s
            while cur < e:
                split.append((cur, min(cur + max_duration_ms, e)))
                cur += max_duration_ms
        else:
            split.append((s, e))
    # pass 2: greedy merge
    merged: list[tuple[int, int]] = []
    seg_start, seg_end = split[0]
    for s, e in split[1:]:
        if e - seg_start <= max_duration_ms:
            seg_end = e
        else:
            if seg_end - seg_start >= min_duration_ms:
                merged.append((seg_start, seg_end))
            seg_start, seg_end = s, e
    if seg_end - seg_start >= min_duration_ms:
        merged.append((seg_start, seg_end))
    # padding (clamped)
    return [
        (s, e, max(0, s - padding_ms), min(total_ms, e + padding_ms))
        for s, e in merged
    ]
