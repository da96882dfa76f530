"""Non-PCM WAV codecs: G.711 mu-law/A-law (ITU-T G.711) and IMA/DVI ADPCM
(IMA Digital Audio Pack, wFormatTag 0x11) — the telephony/speech formats a
TTS ingest corpus actually contains alongside plain PCM (extends S2,
pa.py:79-92, whose reference scope was PCM-only via pydub/ffmpeg).

stdlib `wave` refuses any wFormatTag != 1, so `parse_riff` walks the RIFF
chunks directly; decoders are numpy table lookups (G.711) or the spec
state machine (ADPCM). Encoders exist as the fixture/round-trip halves —
G.711 codeword round-trip is VALUE-exact (decode(encode(decode(b))) ==
decode(b) for all 256 codewords, pinned by
test_g711_codeword_roundtrip_exact) — byte-exactness cannot hold for all
codewords because mu-law 0x7F and 0xFF both decode to 0 (plus/minus zero
collapse); ADPCM round-trip is pinned by SNR (the codec is lossy by
design).

All decoders emit int16 PCM; audio/decode.py normalizes to [-1, 1] float
exactly like the PCM path.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# RIFF container
# ---------------------------------------------------------------------------
WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_ALAW = 0x0006
WAVE_FORMAT_MULAW = 0x0007
WAVE_FORMAT_IMA_ADPCM = 0x0011


def parse_riff(content: bytes) -> dict:
    """Walk RIFF/WAVE chunks; return fmt fields + the raw data payload."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(content):
        tag = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk too short")
            (fmt_tag, channels, rate, _byterate, block_align, bits) = (
                struct.unpack_from("<HHIIHH", body, 0)
            )
            fmt = {
                "fmt_tag": fmt_tag,
                "channels": channels,
                "rate": rate,
                "block_align": block_align,
                "bits": bits,
            }
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    fmt["data"] = data
    return fmt


# ---------------------------------------------------------------------------
# G.711 mu-law / A-law (table-driven; tables built from the ITU formulas)
# ---------------------------------------------------------------------------
def _mulaw_table() -> np.ndarray:
    out = np.zeros(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF  # codewords are transmitted inverted
        seg = (u >> 4) & 0x07
        mant = u & 0x0F
        mag = ((mant << 3) + 0x84) << seg
        val = mag - 0x84
        out[code] = -val if (u & 0x80) else val
    return out


def _alaw_table() -> np.ndarray:
    out = np.zeros(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55  # even-bit inversion
        seg = (a >> 4) & 0x07
        mant = a & 0x0F
        if seg == 0:
            mag = (mant << 4) + 8
        else:
            mag = ((mant << 4) + 0x108) << (seg - 1)
        # G.711 A-law: the (post-inversion) sign bit SET means POSITIVE
        out[code] = mag if (a & 0x80) else -mag
    return out


MULAW_DECODE = _mulaw_table()
ALAW_DECODE = _alaw_table()


def decode_mulaw(raw: bytes) -> np.ndarray:
    return MULAW_DECODE[np.frombuffer(raw, dtype=np.uint8)]


def decode_alaw(raw: bytes) -> np.ndarray:
    return ALAW_DECODE[np.frombuffer(raw, dtype=np.uint8)]


def _encode_g711(x: np.ndarray, table: np.ndarray) -> np.ndarray:
    """Nearest-codeword encoder (fixture half): exact inverse on codeword
    outputs because every table value maps back to its own index."""
    order = np.argsort(table, kind="stable")
    sorted_vals = table[order]
    idx = np.searchsorted(sorted_vals, x)
    idx = np.clip(idx, 0, 255)
    left = np.clip(idx - 1, 0, 255)
    pick_left = np.abs(sorted_vals[left] - x) <= np.abs(sorted_vals[idx] - x)
    best = np.where(pick_left, left, idx)
    return order[best].astype(np.uint8)


def encode_mulaw(x: np.ndarray) -> bytes:
    return _encode_g711(np.asarray(x, dtype=np.int64), MULAW_DECODE).tobytes()


def encode_alaw(x: np.ndarray) -> bytes:
    return _encode_g711(np.asarray(x, dtype=np.int64), ALAW_DECODE).tobytes()


# ---------------------------------------------------------------------------
# IMA / DVI ADPCM (mono; block-structured per the IMA spec)
# ---------------------------------------------------------------------------
IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int64,
)
IMA_INDEX_ADJUST = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _ima_decode_nibble(nib: int, pred: int, index: int) -> tuple[int, int]:
    step = int(IMA_STEPS[index])
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + int(IMA_INDEX_ADJUST[nib & 7])))
    return pred, index


def decode_ima_adpcm(raw: bytes, block_align: int) -> np.ndarray:
    """Mono IMA ADPCM: each block = 4-byte header (int16 predictor, uint8
    step index, reserved) + 2 samples/byte nibbles, low nibble first."""
    out: list[int] = []
    for off in range(0, len(raw) - 3, block_align):
        block = raw[off : off + block_align]
        pred = struct.unpack_from("<h", block, 0)[0]
        index = min(88, block[2])
        out.append(pred)
        for b in block[4:]:
            for nib in (b & 0x0F, b >> 4):
                pred, index = _ima_decode_nibble(nib, pred, index)
                out.append(pred)
    return np.array(out, dtype=np.int16)


def encode_ima_adpcm(x: np.ndarray, block_align: int = 1024) -> bytes:
    """Mono IMA ADPCM encoder (fixture half, same tables/state machine)."""
    x = np.asarray(x, dtype=np.int64)
    samples_per_block = (block_align - 4) * 2 + 1
    out = bytearray()
    pos = 0
    index = 0
    while pos < len(x):
        chunk = x[pos : pos + samples_per_block]
        pred = int(chunk[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = int(IMA_STEPS[index])
            diff = int(s) - pred
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, index = _ima_decode_nibble(nib, pred, index)
            nibbles.append(nib)
        # pad the final partial block with repeats of the last nibble
        while len(nibbles) < samples_per_block - 1:
            nibbles.append(nibbles[-1] if nibbles else 0)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
        pos += samples_per_block
    return bytes(out)


def wrap_wav(fmt_tag: int, rate: int, data: bytes, block_align: int, bits: int) -> bytes:
    """Minimal mono WAV container around an encoded payload (fixtures)."""
    byterate = rate * block_align if fmt_tag == WAVE_FORMAT_IMA_ADPCM else rate
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, rate, byterate, block_align, bits)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
