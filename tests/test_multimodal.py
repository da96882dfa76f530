"""Multimodal column plumbing: chunking, hashing, metadata probe, feature
extraction batch shape (B6). Real Spark paths throughout; codecs are real
for WAV/BMP/PNG/GIF/JPEG (baseline AND progressive)/y4m; only H.264-class
video remains stubbed."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from tts_etl_pipeline_spark.audio import synth
from tts_etl_pipeline_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("a.wav", "audio", synth.to_wav_bytes(synth.tone(440.0, 1500))),
        ("b.wav", "audio", synth.to_wav_bytes(synth.speech_like(2500, seed=9))),
        ("img.png", "image", b"\x89PNG fake image payload " * 100),
        ("clip.mp4", "video", b"\x00\x00ftyp fake video payload " * 5000),
    ]
    return spark.createDataFrame(rows, "media_id string, modality string, content binary")


def test_chunking_small_payloads_single_chunk(spark, media_df):
    out = MM.chunk_media(media_df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert all(len(v) == 1 for v in by_id.values())
    for r in out:
        assert r["n_chunks"] == 1 and r["chunk_idx"] == 0
        assert r["content_hash"] == hashlib.sha256(bytes(r["content"])).hexdigest()
        assert r["byte_length"] == len(bytes(r["content"]))


def test_chunking_splits_oversized(spark, media_df):
    out = MM.chunk_media(media_df, max_chunk_bytes=1000).collect()
    vid = sorted(
        (r for r in out if r["media_id"] == "clip.mp4"), key=lambda r: r["chunk_idx"]
    )
    total = sum(len(bytes(r["content"])) for r in vid)
    assert len(vid) > 1
    assert vid[0]["n_chunks"] == len(vid)
    assert total == vid[0]["byte_length"]
    # reassembly fidelity
    joined = b"".join(bytes(r["content"]) for r in vid)
    assert hashlib.sha256(joined).hexdigest() == vid[0]["content_hash"]


def test_audio_meta_probe(spark, media_df):
    out = {r["media_id"]: r for r in MM.chunk_media(media_df).collect()}
    meta = out["a.wav"]["meta"]
    assert meta["frame_rate"] == 16_000
    assert abs(meta["duration_ms"] - 1500) <= 1
    assert meta["codec"] == "pcm"
    assert out["img.png"]["meta"]["codec"] is None  # stubbed codec -> no probe


def test_feature_extraction_shapes_and_determinism(spark, media_df):
    chunked = MM.chunk_media(media_df)
    f1 = {r["media_id"]: r for r in MM.extract_features(chunked, dim=32).collect()}
    f2 = {r["media_id"]: r for r in MM.extract_features(chunked, dim=32).collect()}
    assert set(f1) == {"a.wav", "b.wav", "img.png", "clip.mp4"}
    for mid, r in f1.items():
        assert r["feat_dim"] == 32 and len(r["feature"]) == 32
        assert f2[mid]["feature"] == r["feature"]  # deterministic
    # audio rows carry REAL decoded stats in the head slots
    a = np.array(f1["a.wav"]["feature"])
    x = synth.tone(440.0, 1500)
    assert a[2] == pytest.approx(float(np.sqrt(np.mean(np.square(x)))), rel=1e-2)


def test_codec_stubs_raise(spark):
    # H.264-class video stays stubbed (no PIL/opencv/ffmpeg here);
    # JPEG now decodes baseline AND progressive — a truncated JPEG is a
    # malformed payload, a ValueError, not a stub
    with pytest.raises(ValueError):
        MM.decode_image(b"\xff\xd8\xff\xe0 jpeg truncated garbage")
    with pytest.raises(NotImplementedError):
        MM.sample_video_frames(b"\x00\x00ftyp h264 not decodable")
    # PNG now decodes the full still-image spec surface; a MALFORMED
    # payload (16-bit header over 8-bit data) is a ValueError, not a stub
    img = _test_img(w=4, h=3)
    png16_bad = _encode_png(img, depth=16)
    with pytest.raises(ValueError):
        MM.decode_png(png16_bad)


# --------------------------------------------------------------------------
# real dependency-free codecs: BMP images, y4m video
# --------------------------------------------------------------------------
def _test_img(w=31, h=17, seed=3):  # odd width exercises BMP row padding
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _y4m_bytes(w=32, h=16, n_frames=30, fps=10):
    rng = np.random.default_rng(5)
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420jpeg\n".encode()
    body = b""
    for _ in range(n_frames):
        luma = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        chroma = rng.integers(0, 256, size=2 * (w // 2) * (h // 2), dtype=np.uint8).tobytes()
        body += b"FRAME\n" + luma + chroma
    return head + body


def _encode_png(img, filters=None, depth=8, color=None):
    """Minimal PNG writer for decoder tests: applies the spec's scanline
    filters FORWARD (sub/up/average/paeth deltas), so decode_png must run
    the reconstruction to get the pixels back. img: HxW (gray), HxWx3 (RGB)
    or HxWx4 (RGBA) uint8; filters: per-row filter ids (cycled)."""
    import struct
    import zlib

    if img.ndim == 2:
        img = img[..., None]
    h, w, ch = img.shape
    color = {1: 0, 3: 2, 4: 6}[ch] if color is None else color
    filters = filters if filters is not None else [0]
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = img[y].reshape(-1).astype(np.int32)
        out = np.zeros_like(cur)
        for i in range(len(cur)):
            a = int(cur[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
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
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (cur[i] - pred) & 0xFF
        raw.append(f)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_bmp_roundtrip_exact():
    img = _test_img()
    assert np.array_equal(MM.decode_image(MM.encode_bmp(img)), img)


def test_png_decode_all_filters_exact():
    """Every scanline filter (None/Sub/Up/Average/Paeth) reconstructs the
    exact pixels, through the public decode_image dispatch."""
    img = _test_img(w=13, h=11, seed=7)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = MM.decode_image(_encode_png(img, filters=filters))
        assert np.array_equal(got, img), f"filters={filters}"


def test_png_decode_gray_and_rgba():
    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, size=(6, 10), dtype=np.uint8)
    got = MM.decode_png(_encode_png(gray, filters=[0, 2, 4]))
    assert np.array_equal(got, np.repeat(gray[..., None], 3, axis=2))
    rgba = rng.integers(0, 256, size=(5, 7, 4), dtype=np.uint8)
    got = MM.decode_png(_encode_png(rgba, filters=[1, 3, 4]))
    assert np.array_equal(got, rgba[..., :3])  # alpha dropped


def test_png_resize_and_probe(spark):
    img = _test_img(w=16, h=16)
    png = _encode_png(img, filters=[4])
    # resize consumes PNG input, emits BMP (the writer format)
    out = MM.decode_image(MM.resize_image(png, 4, 4))
    assert out.shape == (4, 4, 3)
    df = spark.createDataFrame(
        [("pic.png", "image", png)],
        "media_id string, modality string, content binary",
    )
    meta = {r["media_id"]: r["meta"] for r in MM.chunk_media(df).collect()}
    assert meta["pic.png"]["width"] == 16 and meta["pic.png"]["height"] == 16
    assert meta["pic.png"]["codec"] == "png"
    feats = {
        r["media_id"]: np.array(r["feature"])
        for r in MM.extract_features(MM.chunk_media(df), dim=16).collect()
    }
    luma = img.astype(np.float64).mean(axis=2) / 255.0
    assert feats["pic.png"][0] == pytest.approx(float(luma.mean()), rel=1e-5)


def test_bmp_resize_nearest_neighbor():
    img = _test_img()
    out = MM.decode_image(MM.resize_image(MM.encode_bmp(img), 8, 5))
    assert out.shape == (5, 8, 3)
    # downsample by integer factor on a solid-color image is lossless
    solid = np.full((16, 16, 3), 99, dtype=np.uint8)
    out2 = MM.decode_image(MM.resize_image(MM.encode_bmp(solid), 4, 4))
    assert np.array_equal(out2, np.full((4, 4, 3), 99, dtype=np.uint8))


def test_y4m_frame_sampling():
    content = _y4m_bytes(n_frames=30, fps=10)  # 3 s of video
    frames = MM.sample_video_frames(content, every_ms=1000)
    assert [ts for ts, _ in frames] == [0, 1000, 2000]
    assert all(f.shape == (16, 32) for _, f in frames)
    # every_ms smaller than the frame interval -> every frame sampled
    assert len(MM.sample_video_frames(content, every_ms=1)) == 30


def test_real_codec_meta_probe(spark):
    rows = [
        ("pic.bmp", "image", bytes(MM.encode_bmp(_test_img(w=31, h=17)))),
        ("mov.y4m", "video", bytes(_y4m_bytes(w=32, h=16, n_frames=30, fps=10))),
    ]
    df = spark.createDataFrame(rows, "media_id string, modality string, content binary")
    out = {r["media_id"]: r["meta"] for r in MM.chunk_media(df).collect()}
    assert out["pic.bmp"]["width"] == 31 and out["pic.bmp"]["height"] == 17
    assert out["pic.bmp"]["codec"] == "bmp"
    assert out["mov.y4m"]["width"] == 32 and out["mov.y4m"]["height"] == 16
    assert out["mov.y4m"]["frame_rate"] == 10
    assert out["mov.y4m"]["duration_ms"] == 3000
    assert out["mov.y4m"]["codec"] == "y4m"


def test_real_codec_features(spark):
    img = _test_img()
    rows = [
        ("pic.bmp", "image", bytes(MM.encode_bmp(img))),
        ("mov.y4m", "video", bytes(_y4m_bytes())),
    ]
    df = spark.createDataFrame(rows, "media_id string, modality string, content binary")
    feats = {
        r["media_id"]: np.array(r["feature"])
        for r in MM.extract_features(MM.chunk_media(df), dim=16).collect()
    }
    luma = img.astype(np.float64).mean(axis=2) / 255.0
    assert feats["pic.bmp"][0] == pytest.approx(float(luma.mean()), rel=1e-5)
    assert feats["pic.bmp"][1] == pytest.approx(float(luma.std()), rel=1e-5)
    assert feats["mov.y4m"][2] == 3.0  # 3 sampled frames of the 3 s clip


# ---------------------------------------------------------------------------
# Baseline JPEG: encoder written here in the tests, spec-forward (T.81
# annex F encoding procedure: forward DCT, quantization, zigzag, DC
# prediction, AC run-length, canonical Huffman, byte stuffing, optional
# restart markers), so functions/jpeg.py::decode_jpeg must run the spec
# BACKWARD to recover the pixels — the same adversarial-roundtrip pattern
# as _encode_png above. Huffman tables are deliberately NOT Annex K's
# (flat canonical codes, DC 4-bit / AC 9-bit): the decoder must read DHT
# generically, which is exactly what real-world files require.
# ---------------------------------------------------------------------------
def _jpeg_tables():
    from tts_etl_pipeline_spark.functions.jpeg import ZIGZAG

    q_luma = np.full((8, 8), 8, dtype=np.int64)
    q_chroma = np.full((8, 8), 12, dtype=np.int64)
    return q_luma, q_chroma, ZIGZAG


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _cat(v):
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _mag(v, size):
    return v if v >= 0 else v + (1 << size) - 1


def _encode_jpeg(img, restart_interval=0, subsample=False, gray=False,
                 subsample_h_only=False):
    """Baseline JFIF encoder: 4:4:4, 4:2:0 (subsample=True) or 4:2:2
    (subsample_h_only=True — horizontal-only chroma subsampling, the
    rectangular-MCU case), flat canonical Huffman tables, edge-replicated
    padding for odd dimensions."""
    import struct

    from tts_etl_pipeline_spark.functions.jpeg import dct8x8

    q_luma, q_chroma, zz = _jpeg_tables()
    h, w = img.shape[:2]
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    def pad(p, hh, ww):
        return np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])), mode="edge")

    if subsample:
        # 4:2:0 — average 2x2 chroma; pad odd dims first by edge replication
        ph, pw = (h + 1) & ~1, (w + 1) & ~1
        cb = pad(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        cr = pad(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        samp = [(2, 2), (1, 1), (1, 1)]
    elif subsample_h_only:
        # 4:2:2 — average horizontal pairs only; MCUs become 16x8
        pw = (w + 1) & ~1
        cb = pad(cb, h, pw).reshape(h, pw // 2, 2).mean(axis=2)
        cr = pad(cr, h, pw).reshape(h, pw // 2, 2).mean(axis=2)
        samp = [(2, 1), (1, 1), (1, 1)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
    assert not (gray and subsample)
    if gray:
        samp, planes, quants = [(1, 1)], [y], [q_luma]
    else:
        planes = [y, cb, cr]
        quants = [q_luma, q_chroma, q_chroma]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # pad every plane to its MCU grid by edge replication
    padded = []
    for (hs, vs), p in zip(samp, planes):
        hh, ww = mcuy * vs * 8, mcux * hs * 8
        padded.append(
            np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])), mode="edge")
        )

    # quantized coefficient blocks, MCU-interleaved order
    recon = []  # reference reconstruction (decoder-identical arithmetic)
    blocks = []  # (comp_idx, zigzagged int coeffs)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, ((hs, vs), p, q) in enumerate(zip(samp, padded, quants)):
                for by in range(vs):
                    for bx in range(hs):
                        y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                        blk = p[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coef = np.round(dct8x8(blk) / q).astype(np.int64)
                        blocks.append((ci, coef.flatten()[zz]))
                        recon.append((ci, my, mx, by, bx, coef * q))

    # entropy-code with flat canonical tables
    dc_bits = [0] * 16
    dc_bits[3] = 12  # all 12 DC categories at 4 bits
    # a DHT BITS entry is one byte, so 256 symbols cannot share one length:
    # canonical split — RS 0..253 at 9 bits (codes 0..253), RS 254/255 at
    # 10 bits (codes 508/509; the all-ones code stays unused)
    ac_bits = [0] * 16
    ac_bits[8] = 254
    ac_bits[9] = 2
    dc_huffval = bytes(range(12))
    ac_huffval = bytes(range(256))

    def dc_code(sz):
        return sz, 4  # canonical: symbol k -> code k (4 bits)

    def ac_code(rs):
        return (rs, 9) if rs < 254 else (508 + (rs - 254), 10)

    wtr = _BitWriter()
    pred = [0, 0, 0]
    out_segments = []
    mcu_idx = 0
    bpm = sum(hs * vs for hs, vs in samp)  # blocks per MCU
    for i in range(0, len(blocks), bpm):
        if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
            wtr.flush()
            out_segments.append(bytes(wtr.out))
            wtr = _BitWriter()
            pred = [0, 0, 0]
        for ci, zzc in blocks[i : i + bpm]:
            diff = int(zzc[0]) - pred[ci]
            pred[ci] = int(zzc[0])
            sz = _cat(diff)
            c, n = dc_code(sz)
            wtr.write(c, n)
            if sz:
                wtr.write(_mag(diff, sz), sz)
            run = 0
            last_nz = max([k for k in range(1, 64) if zzc[k]], default=0)
            for k in range(1, last_nz + 1):
                v = int(zzc[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    c, n = ac_code(0xF0)
                    wtr.write(c, n)
                    run -= 16
                sz = _cat(v)
                c, n = ac_code((run << 4) | sz)
                wtr.write(c, n)
                wtr.write(_mag(v, sz), sz)
                run = 0
            if last_nz < 63:
                c, n = ac_code(0x00)
                wtr.write(c, n)
        mcu_idx += 1
    wtr.flush()
    out_segments.append(bytes(wtr.out))

    # assemble the file
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid, q):
        z = np.zeros(64, dtype=np.int64)
        z[:] = q.flatten()[zz]
        return seg(0xDB, bytes([tid]) + bytes(int(v) for v in z))

    def dht(tc, th, bits, huffval):
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + huffval)

    nc = len(samp)
    sof_comps = b"".join(
        bytes([cid + 1, (hs << 4) | vs, 0 if cid == 0 else 1])
        for cid, (hs, vs) in enumerate(samp)
    )
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)
    sos = seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([cid + 1, 0x00]) for cid in range(nc))
        + bytes([0, 63, 0]),
    )
    body = bytearray()
    body += b"\xff\xd8"  # SOI
    body += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    if restart_interval:
        body += seg(0xDD, struct.pack(">H", restart_interval))
    body += dqt(0, q_luma) + dqt(1, q_chroma)
    body += dht(0, 0, dc_bits, dc_huffval) + dht(1, 0, ac_bits, ac_huffval)
    body += sof + sos
    for si, s in enumerate(out_segments):
        body += s
        if si < len(out_segments) - 1:
            body += bytes([0xFF, 0xD0 + (si % 8)])  # RSTn
    body += b"\xff\xd9"  # EOI
    return bytes(body), recon, samp, (mcuy, mcux)


def _jpeg_reference_pixels(recon, samp, grid, h, w):
    """Reconstruct pixels from the encoder's dequantized coefficients via
    the DECODER's own idct + color-convert arithmetic — the exact image
    decode_jpeg must produce (JPEG is lossy vs the original, but decoding
    the quantized coefficients is deterministic)."""
    from tts_etl_pipeline_spark.functions.jpeg import idct8x8

    mcuy, mcux = grid
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8)) for hs, vs in samp
    ]
    for ci, my, mx, by, bx, coef in recon:
        hs, vs = samp[ci]
        y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = idct8x8(coef) + 128.0
    full = []
    for (hs, vs), p in zip(samp, planes):
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _jpeg_test_img(h=24, w=32, seed=3):
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 3))
    img[..., 0] = 128 + 90 * np.sin(xx / 5.0) + 20 * np.cos(yy / 7.0)
    img[..., 1] = 100 + 70 * np.cos(xx / 9.0 + yy / 4.0)
    img[..., 2] = 60 + 50 * np.sin(yy / 6.0) + 10 * rng.randn(h, w)
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def test_jpeg_decode_444_bit_exact_vs_reference():
    img = _jpeg_test_img()
    payload, recon, samp, grid = _encode_jpeg(img)
    got = MM.decode_image(payload)
    ref = _jpeg_reference_pixels(recon, samp, grid, *img.shape[:2])
    assert got.shape == img.shape
    assert (got == ref).all(), "decoded pixels differ from coefficient reference"
    # lossy-but-close vs the original (q=8 flat table on smooth content)
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 6.0


def test_jpeg_decode_odd_dims_and_restart_markers():
    img = _jpeg_test_img(h=19, w=21, seed=5)  # non-multiple-of-8
    payload, recon, samp, grid = _encode_jpeg(img, restart_interval=2)
    got = MM.decode_image(payload)
    ref = _jpeg_reference_pixels(recon, samp, grid, *img.shape[:2])
    assert got.shape == img.shape and (got == ref).all()


def test_jpeg_decode_420_subsampled():
    img = _jpeg_test_img(h=24, w=32, seed=7)
    payload, recon, samp, grid = _encode_jpeg(img, subsample=True)
    assert samp[0] == (2, 2)
    got = MM.decode_image(payload)
    ref = _jpeg_reference_pixels(recon, samp, grid, *img.shape[:2])
    assert got.shape == img.shape and (got == ref).all()


def test_jpeg_probe_and_unsupported_processes_raise():
    img = _jpeg_test_img()
    payload, *_ = _encode_jpeg(img)
    meta = MM._probe_meta("image", payload)
    assert (meta["width"], meta["height"], meta["codec"]) == (32, 24, "jpeg")
    # progressive (SOF2) is now a REAL path (r5) — the honest boundary
    # moved to arithmetic coding (SOF9) and lossless (SOF3)
    for marker in (b"\xff\xc9", b"\xff\xc3"):
        idx = payload.index(b"\xff\xc0")
        bad = payload[:idx] + marker + payload[idx + 2 :]
        with pytest.raises(NotImplementedError):
            MM.decode_image(bad)


def test_jpeg_decode_grayscale():
    img = _jpeg_test_img(h=16, w=16, seed=11)
    payload, recon, samp, grid = _encode_jpeg(img, gray=True)
    got = MM.decode_image(payload)
    assert got.shape == img.shape
    # single-component: decoder replicates luma; reference = idct of the
    # encoder's dequantized Y coefficients, clipped identically
    from tts_etl_pipeline_spark.functions.jpeg import idct8x8
    mcuy, mcux = grid
    plane = np.zeros((mcuy * 8, mcux * 8))
    for ci, my, mx, by, bx, coef in recon:
        plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = idct8x8(coef) + 128.0
    ref = np.clip(np.round(plane[:16, :16]), 0, 255).astype(np.uint8)
    assert (got[..., 0] == ref).all() and (got[..., 1] == ref).all()


def test_jpeg_decode_randomized_sizes_and_content():
    """Randomized sweep: assorted odd/even dimensions, noise and gradient
    content, 4:4:4 and 4:2:0, with and without restarts — every decode
    must match the coefficient reference bit-exactly."""
    cases = [
        (8, 8, 1, False, 0), (9, 7, 2, False, 0), (17, 33, 3, True, 0),
        (40, 24, 4, True, 3), (16, 16, 5, False, 1), (25, 25, 6, False, 4),
    ]
    for h, w, seed, subsample, restart in cases:
        rng = np.random.RandomState(seed)
        kind = seed % 3
        if kind == 0:
            img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        elif kind == 1:
            img = _jpeg_test_img(h=h, w=w, seed=seed)
        else:
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.clip(
                np.stack([xx * 255 // max(w - 1, 1)] * 3, axis=2), 0, 255
            ).astype(np.uint8)
        payload, recon, samp, grid = _encode_jpeg(
            img, restart_interval=restart, subsample=subsample
        )
        got = MM.decode_image(payload)
        ref = _jpeg_reference_pixels(recon, samp, grid, h, w)
        assert got.shape == (h, w, 3), (h, w, seed)
        assert (got == ref).all(), (h, w, seed, subsample, restart)


def test_jpeg_decode_tolerates_fill_bytes():
    """T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a marker —
    insert fill before SOF and DHT and the decode must be unchanged."""
    img = _jpeg_test_img(h=16, w=16, seed=13)
    payload, recon, samp, grid = _encode_jpeg(img)
    # splice only at the real marker positions — a blind global replace
    # could hit FF C0/FF C4 byte pairs inside raw segment bodies
    assert payload.count(b"\xff\xc0") == 1 and payload.count(b"\xff\xc4") == 2
    sof = payload.index(b"\xff\xc0")
    filled = payload[:sof] + b"\xff\xff" + payload[sof:]
    dht = filled.index(b"\xff\xc4")
    filled = filled[:dht] + b"\xff" + filled[dht:]
    assert len(filled) > len(payload)
    got = MM.decode_image(filled)
    ref = _jpeg_reference_pixels(recon, samp, grid, *img.shape[:2])
    assert (got == ref).all()


# --------------------------------------------------------------------------
# full-spec PNG: palette / sub-byte / 16-bit / Adam7 — encoder written
# spec-forward here (per-pass filtering, MSB-first bit packing, big-endian
# 16-bit), decoder must invert all of it
# --------------------------------------------------------------------------
def _png_forward_filter(rows_bytes, bpp, filters, fi0=0):
    """rows_bytes: list of np.uint8 arrays (the packed scanlines of ONE
    pass). Applies the cycling forward filters; returns (bytes, next_fi)."""
    out = bytearray()
    prev = np.zeros(len(rows_bytes[0]) if rows_bytes else 0, dtype=np.int32)
    fi = fi0
    for rb in rows_bytes:
        cur = rb.astype(np.int32)
        f = filters[fi % len(filters)]
        fi += 1
        enc = np.zeros_like(cur)
        for i in range(len(cur)):
            a = int(cur[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
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
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (cur[i] - pred) & 0xFF
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prev = cur
    return bytes(out), fi


def _encode_png_full(samples, depth, color, palette=None, interlace=0,
                     filters=(0, 1, 2, 3, 4)):
    """General PNG writer: samples (h,w) ints for gray/palette, (h,w,ch)
    for RGB(A); values already in [0, 2^depth). Packs sub-byte samples
    MSB-first, 16-bit big-endian, filters each Adam7 pass independently."""
    import struct
    import zlib

    from tts_etl_pipeline_spark.operators.multimodal import ADAM7

    arr = np.asarray(samples)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, channels = arr.shape
    bpp = max(1, channels * depth // 8)

    def pack_row(row):  # (pw, channels) ints -> packed np.uint8 scanline
        flat = row.reshape(-1).astype(np.int64)
        if depth == 8:
            return flat.astype(np.uint8)
        if depth == 16:
            b = np.zeros((flat.size, 2), np.uint8)
            b[:, 0] = (flat >> 8) & 0xFF
            b[:, 1] = flat & 0xFF
            return b.reshape(-1)
        bits = ((flat[:, None] >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
        bits = bits.reshape(-1)
        pad = (-len(bits)) % 8
        if pad:
            bits = np.concatenate([bits, np.zeros(pad, np.uint8)])
        return np.packbits(bits)

    raw = bytearray()
    passes = ADAM7 if interlace else [(0, 0, 1, 1)]
    fi = 0
    for x0, y0, dx, dy in passes:
        sub = arr[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        rows = [pack_row(sub[y]) for y in range(ph)]
        chunk, fi = _png_forward_filter(rows, bpp, filters, fi)
        raw.extend(chunk)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    body = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    )
    if palette is not None:
        body += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    body += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return body


def test_png_palette_8_and_4bit():
    rng = np.random.RandomState(17)
    plte = rng.randint(0, 256, size=(13, 3)).astype(np.uint8)
    idx = rng.randint(0, 13, size=(11, 9))
    got = MM.decode_png(_encode_png_full(idx, 8, 3, palette=plte))
    assert np.array_equal(got, plte[idx])
    got4 = MM.decode_png(_encode_png_full(idx, 4, 3, palette=plte))  # odd width packs
    assert np.array_equal(got4, plte[idx])


def test_png_16bit_gray_and_rgb():
    rng = np.random.RandomState(19)
    g16 = rng.randint(0, 1 << 16, size=(7, 10))
    got = MM.decode_png(_encode_png_full(g16, 16, 0))
    assert np.array_equal(got, np.repeat((g16 >> 8).astype(np.uint8)[..., None], 3, axis=2))
    rgb16 = rng.randint(0, 1 << 16, size=(6, 5, 3))
    got = MM.decode_png(_encode_png_full(rgb16, 16, 2))
    assert np.array_equal(got, (rgb16 >> 8).astype(np.uint8))


def test_png_sub_byte_gray_depths():
    rng = np.random.RandomState(23)
    for d in (1, 2, 4):
        g = rng.randint(0, 1 << d, size=(9, 13))  # odd width: row bit padding
        got = MM.decode_png(_encode_png_full(g, d, 0))
        exp = (g * 255 // ((1 << d) - 1)).astype(np.uint8)
        assert np.array_equal(got, np.repeat(exp[..., None], 3, axis=2)), d


def test_png_adam7_interlaced():
    rng = np.random.RandomState(29)
    img = rng.randint(0, 256, size=(13, 11, 3)).astype(np.uint8)  # odd dims
    got = MM.decode_png(_encode_png_full(img, 8, 2, interlace=1))
    assert np.array_equal(got, img)
    # interlaced + palette + sub-byte together — the hardest combination
    plte = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, size=(10, 7))
    got = MM.decode_png(_encode_png_full(idx, 4, 3, palette=plte, interlace=1))
    assert np.array_equal(got, plte[idx])
    # interlaced gray+alpha 8-bit (alpha dropped)
    ga = rng.randint(0, 256, size=(8, 9, 2)).astype(np.uint8)
    got = MM.decode_png(_encode_png_full(ga, 8, 4, interlace=1))
    assert np.array_equal(got, np.repeat(ga[..., :1], 3, axis=2))


def test_jpeg_decode_422_horizontal_subsampling():
    """4:2:2 — horizontal-only chroma subsampling makes the MCU 16x8 (two
    Y blocks beside each other, one Cb, one Cr): a different interleave
    order and upsample axis than 4:2:0."""
    for h, w, seed in [(16, 32, 31), (13, 21, 37)]:
        img = _jpeg_test_img(h=h, w=w, seed=seed)
        payload, recon, samp, grid = _encode_jpeg(img, subsample_h_only=True)
        assert samp[0] == (2, 1)
        got = MM.decode_image(payload)
        ref = _jpeg_reference_pixels(recon, samp, grid, h, w)
        assert got.shape == (h, w, 3) and (got == ref).all(), (h, w)


# --------------------------------------------------------------------------
# GIF (functions/gif.py)
# --------------------------------------------------------------------------
def test_gif_roundtrip_exact():
    import numpy as np

    from tts_etl_pipeline_spark.functions.gif import decode_gif, encode_gif, gif_meta

    rng = np.random.default_rng(21)
    # <=256 distinct colors by construction: sample from a 64-color palette
    palette = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 64, size=(23, 31))]
    blob = encode_gif(img)
    assert blob[:6] == b"GIF89a"
    out = decode_gif(blob)
    assert out.shape == img.shape and (out == img).all()
    meta = gif_meta(blob)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (31, 23, 1)


def test_gif_interlaced_and_multiframe():
    import numpy as np

    from tts_etl_pipeline_spark.functions.gif import decode_gif, encode_gif, gif_meta

    rng = np.random.default_rng(22)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 16, size=(17, 9))]  # odd dims stress passes
    inter = encode_gif(img, interlaced=True)
    assert (decode_gif(inter) == img).all()  # de-interlace reassembles rows
    multi = encode_gif(img, extra_frames=2)
    assert gif_meta(multi)["n_frames"] == 3
    assert (decode_gif(multi) == img).all()  # first frame decodes


def test_gif_two_color_and_full_palette_edges():
    import numpy as np

    from tts_etl_pipeline_spark.functions.gif import decode_gif, encode_gif

    # 2-color image exercises the minimum LZW code size floor (2)
    img = np.zeros((5, 7, 3), dtype=np.uint8)
    img[::2, 1::2] = 255
    assert (decode_gif(encode_gif(img)) == img).all()
    # exactly 256 colors exercises the 8-bit table + CLEAR-reset cadence,
    # and a size > budget forces several CLEAR resets mid-stream
    rng = np.random.default_rng(23)
    palette = np.array(
        [[i, (i * 7) % 256, (i * 13) % 256] for i in range(256)], dtype=np.uint8
    )
    img = palette[rng.integers(0, 256, size=(40, 40))]
    assert (decode_gif(encode_gif(img)) == img).all()


def test_gif_enters_decode_image_dispatch():
    import numpy as np

    from tts_etl_pipeline_spark.functions.gif import encode_gif
    from tts_etl_pipeline_spark.operators.multimodal import _probe_meta, decode_image

    rng = np.random.default_rng(24)
    palette = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 8, size=(6, 11))]
    blob = encode_gif(img)
    assert (decode_image(blob) == img).all()
    meta = _probe_meta("image", blob[:64])
    assert (meta["width"], meta["height"], meta["codec"]) == (11, 6, "gif")


def test_m2_codec_rollup_lossless_codecs_agree(spark, sf_dir):
    """m2's three lossless encodings of the same pixels must produce
    IDENTICAL per-codec stats (bmp == png == gif row-for-row except the
    codec label), and the whole query must be deterministic across runs."""
    from tts_etl_pipeline_spark.operators.multimodal import m2_image_codec_features

    rows = m2_image_codec_features(spark, sf_dir).collect()
    assert [r["codec"] for r in rows] == ["bmp", "gif", "png"]
    stats = {(r["n_images"], r["avg_luma_mean"], r["avg_luma_std"]) for r in rows}
    assert len(stats) == 1  # lossless: identical pixel stats per codec
    n, lm, ls = next(iter(stats))
    assert n == 8 and 0.0 < lm < 1.0 and 0.0 < ls < 0.6
    again = m2_image_codec_features(spark, sf_dir).collect()
    assert rows == again


def test_encode_png_roundtrip():
    import numpy as np

    from tts_etl_pipeline_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(13, 19, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


# --------------------------------------------------------------------------
# progressive JPEG (SOF2): encoder fixture + decode parity vs baseline
# --------------------------------------------------------------------------
def _encode_jpeg_progressive(img, gray=False, restart_interval=0):
    """Progressive JFIF encoder (fixture half): 4:4:4, SOF2, six-scan
    schedule exercising BOTH progressive mechanisms —
      1. DC first (interleaved, Al=1)   2. DC refine (Ah=1)
      3. AC 1..5 first (Al=1)           4. AC 6..63 first (Al=1)
      5. AC 1..5 refine (Ah=1)          6. AC 6..63 refine (Ah=1)
    per component for 3-6. Correction-bit buffering, ZRL-limited-to-EOB
    and newly-significant coding follow T.81 G.1.2.2 (the jcphuff
    discipline). Returns (payload, quantized-coefficient blocks)."""
    import struct

    from tts_etl_pipeline_spark.functions.jpeg import dct8x8

    q_luma, q_chroma, zz = _jpeg_tables()
    h, w = img.shape[:2]
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    planes = [y] if gray else [y, cb, cr]
    quants = [q_luma] if gray else [q_luma, q_chroma, q_chroma]
    nc = len(planes)
    bx_n, by_n = (w + 7) // 8, (h + 7) // 8

    coefs = []  # per comp: (by, bx) -> zigzag int64[64]
    for p, q in zip(planes, quants):
        pp = np.pad(p, ((0, by_n * 8 - h), (0, bx_n * 8 - w)), mode="edge")
        cz = np.zeros((by_n, bx_n, 64), dtype=np.int64)
        for by in range(by_n):
            for bx in range(bx_n):
                blk = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coef = np.round(dct8x8(blk) / q).astype(np.int64)
                cz[by, bx] = coef.flatten()[zz]
        coefs.append(cz)

    # flat canonical tables (shared by every scan)
    dc_bits = [0] * 16
    dc_bits[3] = 12
    ac_bits = [0] * 16
    ac_bits[8] = 254
    ac_bits[9] = 2
    dc_huffval = bytes(range(12))
    ac_huffval = bytes(range(256))

    def dc_code(wtr, sz):
        wtr.write(sz, 4)

    def ac_code(wtr, rs):
        if rs < 254:
            wtr.write(rs, 9)
        else:
            wtr.write(508 + (rs - 254), 10)

    def tz(v, n):  # point transform: toward-zero shift for AC
        return v // (1 << n) if v >= 0 else -((-v) // (1 << n))

    scans = []  # (sos_payload_bytes, entropy_segments list)

    # scan 1: DC first, interleaved, Al=1
    wtr = _BitWriter()
    segs = []
    pred = [0] * nc
    unit = 0
    for by in range(by_n):
        for bx in range(bx_n):
            if restart_interval and unit and unit % restart_interval == 0:
                wtr.flush()
                segs.append(bytes(wtr.out))
                wtr = _BitWriter()
                pred = [0] * nc
            for ci in range(nc):
                v = int(coefs[ci][by, bx, 0]) >> 1  # DC: arithmetic shift
                diff = v - pred[ci]
                pred[ci] = v
                sz = _cat(diff)
                dc_code(wtr, sz)
                if sz:
                    wtr.write(_mag(diff, sz), sz)
            unit += 1
    wtr.flush()
    segs.append(bytes(wtr.out))
    sos1 = bytes([nc]) + b"".join(bytes([ci + 1, 0x00]) for ci in range(nc)) + bytes(
        [0, 0, 0x01]
    )
    scans.append((sos1, segs))

    # scan 2: DC refine, interleaved, Ah=1 Al=0
    wtr = _BitWriter()
    for by in range(by_n):
        for bx in range(bx_n):
            for ci in range(nc):
                wtr.write(int(coefs[ci][by, bx, 0]) & 1, 1)
    wtr.flush()
    sos2 = bytes([nc]) + b"".join(bytes([ci + 1, 0x00]) for ci in range(nc)) + bytes(
        [0, 0, 0x10]
    )
    scans.append((sos2, [bytes(wtr.out)]))

    # scans 3-6: AC per component, two bands, first then refine
    for band in ((1, 5), (6, 63)):
        ss, se = band
        for ci in range(nc):
            wtr = _BitWriter()
            for by in range(by_n):
                for bx in range(bx_n):
                    zzc = coefs[ci][by, bx]
                    run = 0
                    emitted = False
                    for k in range(ss, se + 1):
                        v = tz(int(zzc[k]), 1)
                        if v == 0:
                            run += 1
                            continue
                        while run >= 16:
                            ac_code(wtr, 0xF0)
                            run -= 16
                        sz = _cat(v)
                        ac_code(wtr, (run << 4) | sz)
                        wtr.write(_mag(v, sz), sz)
                        run = 0
                        emitted = True
                    if run > 0 or not emitted:
                        ac_code(wtr, 0x00)  # EOB, run of exactly 1
            wtr.flush()
            sos = bytes([1, ci + 1, 0x00, ss, se, 0x01])
            scans.append((sos, [bytes(wtr.out)]))
    for band in ((1, 5), (6, 63)):
        ss, se = band
        for ci in range(nc):
            wtr = _BitWriter()
            for by in range(by_n):
                for bx in range(bx_n):
                    zzc = coefs[ci][by, bx]
                    absv = [abs(int(zzc[k])) for k in range(64)]
                    eob = 0
                    for k in range(ss, se + 1):
                        if absv[k] == 1:
                            eob = k
                    run = 0
                    pending: list[int] = []  # buffered correction bits
                    for k in range(ss, se + 1):
                        t = absv[k]
                        if t == 0:
                            run += 1
                            continue
                        while run > 15 and k <= eob:
                            ac_code(wtr, 0xF0)
                            for bit in pending:
                                wtr.write(bit, 1)
                            pending = []
                            run -= 16
                        if t > 1:
                            pending.append(t & 1)
                            continue
                        # newly significant (|v| == 1 at this precision)
                        ac_code(wtr, (run << 4) | 1)
                        wtr.write(1 if int(zzc[k]) > 0 else 0, 1)
                        for bit in pending:
                            wtr.write(bit, 1)
                        pending = []
                        run = 0
                    if run > 0 or pending:
                        ac_code(wtr, 0x00)  # EOB (run length 1)
                        for bit in pending:
                            wtr.write(bit, 1)
            wtr.flush()
            sos = bytes([1, ci + 1, 0x00, ss, se, 0x10])
            scans.append((sos, [bytes(wtr.out)]))

    # assemble
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid, q):
        z = np.zeros(64, dtype=np.int64)
        z[:] = q.flatten()[zz]
        return seg(0xDB, bytes([tid]) + bytes(int(v) for v in z))

    def dht(tc, th, bits, huffval):
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + huffval)

    sof_comps = b"".join(
        bytes([ci + 1, 0x11, 0 if ci == 0 else 1]) for ci in range(nc)
    )
    body = bytearray()
    body += b"\xff\xd8"
    body += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    body += dqt(0, q_luma)
    if nc > 1:
        body += dqt(1, q_chroma)
    body += dht(0, 0, dc_bits, dc_huffval) + dht(1, 0, ac_bits, ac_huffval)
    body += seg(0xC2, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)
    for si, (sos_payload, entropy_segs) in enumerate(scans):
        if si == 0 and restart_interval:
            body += seg(0xDD, struct.pack(">H", restart_interval))
        if si == 1 and restart_interval:
            body += seg(0xDD, struct.pack(">H", 0))  # later scans: no restarts
        body += seg(0xDA, sos_payload)
        for j, s in enumerate(entropy_segs):
            body += s
            if j < len(entropy_segs) - 1:
                body += bytes([0xFF, 0xD0 + (j % 8)])
    body += b"\xff\xd9"
    return bytes(body), coefs


def test_jpeg_progressive_coefficients_exact():
    """The six-scan progressive stream must reconstruct EXACTLY the
    quantized coefficients the encoder produced — the strongest possible
    check on DC/AC first+refine and correction-bit bookkeeping."""
    from tts_etl_pipeline_spark.functions.jpeg import decode_jpeg_coefficients

    img = _jpeg_test_img()
    payload, coefs = _encode_jpeg_progressive(img)
    frame, qt, got = decode_jpeg_coefficients(payload)
    assert len(got) == 3
    for ci in range(3):
        assert got[ci].shape == coefs[ci].shape
        assert (got[ci] == coefs[ci]).all(), ci


def test_jpeg_progressive_equals_baseline_pixels():
    """Progressive and baseline encodings of the SAME quantized
    coefficients must decode to IDENTICAL pixels."""
    from tts_etl_pipeline_spark.functions.jpeg import decode_jpeg

    img = _jpeg_test_img(h=17, w=23, seed=9)  # odd dims stress the crop
    base_payload, *_ = _encode_jpeg(img)
    prog_payload, _ = _encode_jpeg_progressive(img)
    assert (decode_jpeg(base_payload) == decode_jpeg(prog_payload)).all()


def test_jpeg_progressive_grayscale_and_dc_restarts():
    from tts_etl_pipeline_spark.functions.jpeg import (
        decode_jpeg,
        decode_jpeg_coefficients,
    )

    img = _jpeg_test_img(h=16, w=16, seed=5)
    payload, coefs = _encode_jpeg_progressive(img, gray=True)
    _, _, got = decode_jpeg_coefficients(payload)
    assert (got[0] == coefs[0]).all()
    out = decode_jpeg(payload)
    assert out.shape == (16, 16, 3)
    # restart markers inside the progressive DC scan
    payload, coefs = _encode_jpeg_progressive(img, restart_interval=2)
    _, _, got = decode_jpeg_coefficients(payload)
    for ci in range(3):
        assert (got[ci] == coefs[ci]).all(), ci


def test_gif_gce_transparency_shows_background():
    import numpy as np

    from tts_etl_pipeline_spark.functions.gif import decode_gif, encode_gif, gif_meta

    rng = np.random.default_rng(41)
    palette = rng.integers(1, 255, size=(8, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 8, size=(6, 9))]
    blob = bytearray(encode_gif(img))
    # image descriptor offset, computed STRUCTURALLY (a palette byte can
    # coincidentally be 0x2C): header(13) + global color table size
    n_gct = 2 << (blob[10] & 0x07)
    idx_img = 13 + n_gct * 3
    assert blob[idx_img] == 0x2C
    # palette index used at pixel (0, 0): mark it transparent via a GCE.
    # The index must come from the FILE's color table (encode_gif builds
    # its own np.unique-ordered palette), so read it out of the blob.
    base = decode_gif(bytes(blob))
    gct = np.frombuffer(bytes(blob[13:idx_img]), np.uint8).reshape(-1, 3)
    t_idx = next(i for i, c in enumerate(gct) if (c == base[0, 0]).all())
    gce = bytes([0x21, 0xF9, 0x04, 0x01, 0x00, 0x00, t_idx, 0x00])
    blob2 = bytes(blob[:idx_img]) + gce + bytes(blob[idx_img:])
    out = decode_gif(blob2)
    assert gif_meta(blob2)["n_frames"] == 1
    # transparent pixels show the background (index 0 of the GCT = the
    # encoder's background fill = palette entry of the canvas), not the
    # palette color; opaque pixels unchanged
    t_color = gct[t_idx]
    trans_mask = (base == t_color).all(axis=2)
    assert trans_mask.any()
    # transparent pixels show the canvas background (GCT entry of the
    # screen descriptor's bg index = gct[0] here), not the palette color
    assert (out[trans_mask] == gct[0]).all()
    assert (out[~trans_mask] == base[~trans_mask]).all()


def test_jpeg_sequential_noninterleaved_scans():
    """Spec-legal baseline variant (T.81 A.2.2): three ns=1 sequential
    scans over a 4:2:0 frame whose luma TRUE block grid (3x3 for 24x24)
    is smaller than its MCU-padded grid (4x4) — decoding the padded grid
    would desync the stream. Pixels must equal the interleaved encoding
    of the same quantized coefficients."""
    import struct

    from tts_etl_pipeline_spark.functions.jpeg import (
        ZIGZAG,
        dct8x8,
        decode_jpeg,
        decode_jpeg_coefficients,
    )

    img = _jpeg_test_img(h=24, w=24, seed=12)
    q_luma, q_chroma, zz = _jpeg_tables()
    h, w = 24, 24
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    cb = cb.reshape(12, 2, 12, 2).mean(axis=(1, 3))
    cr = cr.reshape(12, 2, 12, 2).mean(axis=(1, 3))
    planes = [y, cb, cr]
    quants = [q_luma, q_chroma, q_chroma]
    samp = [(2, 2), (1, 1), (1, 1)]

    # per-component TRUE grids + quantized coefficients
    comp_coefs = []
    for p, q in zip(planes, quants):
        ph, pw = p.shape
        by_n, bx_n = (ph + 7) // 8, (pw + 7) // 8
        pp = np.pad(p, ((0, by_n * 8 - ph), (0, bx_n * 8 - pw)), mode="edge")
        cz = np.zeros((by_n, bx_n, 64), dtype=np.int64)
        for by in range(by_n):
            for bx in range(bx_n):
                blk = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                cz[by, bx] = np.round(dct8x8(blk) / q).astype(np.int64).flatten()[zz]
        comp_coefs.append(cz)
    assert comp_coefs[0].shape[:2] == (3, 3)  # true luma grid, not 4x4

    dc_bits = [0] * 16
    dc_bits[3] = 12
    ac_bits = [0] * 16
    ac_bits[8] = 254
    ac_bits[9] = 2

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid, q):
        z = np.zeros(64, dtype=np.int64)
        z[:] = q.flatten()[zz]
        return seg(0xDB, bytes([tid]) + bytes(int(v) for v in z))

    body = bytearray(b"\xff\xd8")
    body += dqt(0, q_luma) + dqt(1, q_chroma)
    body += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(range(12)))
    body += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(range(256)))
    sof_comps = b"".join(
        bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
        for ci, (hs, vs) in enumerate(samp)
    )
    body += seg(0xC0, struct.pack(">BHHB", 8, h, w, 3) + sof_comps)
    for ci, cz in enumerate(comp_coefs):
        wtr = _BitWriter()
        pred = 0
        for by in range(cz.shape[0]):
            for bx in range(cz.shape[1]):
                zzc = cz[by, bx]
                diff = int(zzc[0]) - pred
                pred = int(zzc[0])
                sz = _cat(diff)
                wtr.write(sz, 4)
                if sz:
                    wtr.write(_mag(diff, sz), sz)
                run = 0
                last_nz = max([k for k in range(1, 64) if zzc[k]], default=0)
                for k in range(1, last_nz + 1):
                    v = int(zzc[k])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        wtr.write(0xF0, 9)
                        run -= 16
                    sz = _cat(v)
                    rs = (run << 4) | sz
                    if rs < 254:
                        wtr.write(rs, 9)
                    else:
                        wtr.write(508 + (rs - 254), 10)
                    wtr.write(_mag(v, sz), sz)
                    run = 0
                if last_nz < 63:
                    wtr.write(0x00, 9)
        wtr.flush()
        body += seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        body += bytes(wtr.out)
    body += b"\xff\xd9"

    _, _, got = decode_jpeg_coefficients(bytes(body))
    for ci in range(3):
        # decoder stores into the MCU-padded array; the true-grid corner
        # must match, padding blocks stay zero
        tg = comp_coefs[ci]
        assert (got[ci][: tg.shape[0], : tg.shape[1]] == tg).all(), ci
    out = decode_jpeg(bytes(body))
    assert out.shape == (24, 24, 3)
    # cross-check pixels vs the standard interleaved encoder of the SAME image
    base_payload, *_ = _encode_jpeg(img, subsample=True)
    base = MM.decode_image(base_payload)
    assert (out == base).all()


# ---------------------------------------------------------------------------
# RIFF/AVI container: MJPEG + uncompressed-DIB frames (r6 — shrinks the
# video stub to true inter-frame codecs)
# ---------------------------------------------------------------------------
def _avi_mjpeg_fixture(n_frames=6, fps=2, w=24, h=16):
    payloads = [
        _encode_jpeg(_test_img(w=w, h=h, seed=100 + i))[0] for i in range(n_frames)
    ]
    return MM.encode_avi_mjpeg(payloads, w, h, fps), payloads


def _bt601_luma(rgb):
    y = (
        0.299 * rgb[..., 0].astype(np.float64)
        + 0.587 * rgb[..., 1].astype(np.float64)
        + 0.114 * rgb[..., 2].astype(np.float64)
    )
    return np.clip(np.rint(y), 0, 255).astype(np.uint8)


def test_avi_mjpeg_frame_sampling():
    from tts_etl_pipeline_spark.functions.jpeg import decode_jpeg

    content, payloads = _avi_mjpeg_fixture(n_frames=6, fps=2)  # 3 s clip
    frames = MM.sample_video_frames(content, every_ms=1000)
    assert [ts for ts, _ in frames] == [0, 1000, 2000]
    assert all(f.shape == (16, 24) for _, f in frames)
    # sampled lumas equal BT.601 of the independently-decoded 00dc JPEGs
    for (ts, luma), idx in zip(frames, (0, 2, 4)):
        expect = _bt601_luma(decode_jpeg(payloads[idx]))
        assert np.array_equal(luma, expect), ts
    # every_ms below the frame interval -> every frame decodes
    assert len(MM.sample_video_frames(content, every_ms=1)) == 6


def test_avi_dib_frame_sampling():
    imgs = [_test_img(w=21, h=10, seed=7 + i) for i in range(4)]  # odd width pads
    content = MM.encode_avi_dib(imgs, fps=2)
    frames = MM.sample_video_frames(content, every_ms=1)
    assert len(frames) == 4
    for (_, luma), img in zip(frames, imgs):
        assert np.array_equal(luma, _bt601_luma(img))  # DIB is lossless


def test_avi_dib_top_down_orientation():
    """Negative biHeight = top-down DIB (valid per BITMAPINFOHEADER, same
    convention the BMP decoder honors): the sign must survive _parse_avi
    into meta and suppress the bottom-up row flip — a vertically-
    asymmetric frame must decode IDENTICALLY from both encodings
    (round-7 ADVICE)."""
    img = _test_img(w=21, h=10, seed=11)
    img[0, :, :] = 255  # make the frame vertically asymmetric for sure
    img[-1, :, :] = 0
    bottom_up = MM.sample_video_frames(MM.encode_avi_dib([img], fps=2), every_ms=1)
    top_down = MM.sample_video_frames(
        MM.encode_avi_dib([img], fps=2, top_down=True), every_ms=1
    )
    expect = _bt601_luma(img)
    assert np.array_equal(bottom_up[0][1], expect)
    assert np.array_equal(top_down[0][1], expect)  # was: flipped
    # the sign is recorded in parse meta, and abs() height still reported
    meta, _ = MM._parse_avi(MM.encode_avi_dib([img], fps=2, top_down=True))
    assert meta["top_down"] is True and meta["height"] == 10


def test_avi_probe_meta(spark):
    content, _ = _avi_mjpeg_fixture(n_frames=6, fps=2, w=24, h=16)
    df = spark.createDataFrame(
        [("clip.avi", "video", bytes(content))],
        "media_id string, modality string, content binary",
    )
    meta = MM.chunk_media(df).collect()[0]["meta"]
    assert meta["width"] == 24 and meta["height"] == 16
    assert meta["frame_rate"] == 2
    assert meta["duration_ms"] == 3000
    assert meta["codec"] == "mjpeg"


def test_avi_features_real_path(spark):
    content, payloads = _avi_mjpeg_fixture(n_frames=6, fps=2)
    df = spark.createDataFrame(
        [("clip.avi", "video", bytes(content))],
        "media_id string, modality string, content binary",
    )
    feat = np.array(
        MM.extract_features(MM.chunk_media(df), dim=16).collect()[0]["feature"]
    )
    assert feat[2] == 3.0  # 3 sampled frames of the 3 s clip
    from tts_etl_pipeline_spark.functions.jpeg import decode_jpeg

    lumas = np.stack(
        [_bt601_luma(decode_jpeg(payloads[i])) for i in (0, 2, 4)]
    ).astype(np.float64) / 255.0
    assert feat[0] == pytest.approx(float(lumas.mean()), rel=1e-5)
    assert feat[1] == pytest.approx(float(lumas.std()), rel=1e-5)


def test_avi_h264_still_stubbed():
    content, _ = _avi_mjpeg_fixture(n_frames=2, fps=2)
    h264 = content.replace(b"MJPG", b"H264")  # strh handler + strf fourcc
    with pytest.raises(NotImplementedError):
        MM.sample_video_frames(h264, every_ms=1000)


def test_m3_video_codec_cross_container_equality(spark):
    """m3's two lossless containers of the same luma planes must produce
    bit-identical rollup rows; MJPEG of the same frames rides the same
    pipeline and lands close (lossy), pinned approximately."""
    from tts_etl_pipeline_spark.operators.multimodal import _encode_y4m, _m3_clips
    from tts_etl_pipeline_spark.registry import all_queries

    m3 = all_queries()["m3_video_codec_features"]
    rows = {r["container"]: r for r in m3(spark, "").collect()}
    assert set(rows) == {"avi", "y4m"}
    a, y = rows["avi"], rows["y4m"]
    assert (a["avg_luma_mean"], a["avg_luma_std"], a["n_sampled_frames"]) == (
        y["avg_luma_mean"], y["avg_luma_std"], y["n_sampled_frames"]
    )
    assert a["n_clips"] == y["n_clips"] == 4

    # MJPEG third container: same gray frames JPEG-encoded, sampled through
    # the same path — lossy-close to the lossless luma stats
    i, w, h, fps, frames = _m3_clips()[0]
    payloads = [
        _encode_jpeg(np.repeat(f[..., None], 3, axis=2))[0] for f in frames
    ]
    avi = MM.encode_avi_mjpeg(payloads, w, h, fps)
    got = MM.sample_video_frames(avi, every_ms=1000)
    ref = MM.sample_video_frames(_encode_y4m(frames, fps), every_ms=1000)
    assert [t for t, _ in got] == [t for t, _ in ref]
    for (_, lj), (_, ly) in zip(got, ref):
        assert float(np.abs(lj.astype(np.int32) - ly.astype(np.int32)).mean()) < 12.0


def test_avi_dib_probe_codec_and_audio_first_stream(spark):
    """Review-pass pins: (a) BI_RGB's four-NUL fourcc probes as codec
    'dib', not a NUL string; (b) frames follow the VIDEO stream's strl
    index — an audio-first mux stores them as 01dc/01db, not 00dc."""
    import struct

    imgs = [_test_img(w=8, h=6, seed=40 + i) for i in range(3)]
    dib = MM.encode_avi_dib(imgs, fps=2)
    df = spark.createDataFrame(
        [("d.avi", "video", bytes(dib))],
        "media_id string, modality string, content binary",
    )
    meta = MM.chunk_media(df).collect()[0]["meta"]
    assert meta["codec"] == "dib", meta["codec"]

    # audio-first variant: inject a dummy 'auds' strl BEFORE the video strl
    # and renumber the frame chunks to stream 01
    def chunk(cc, payload):
        return cc + struct.pack("<I", len(payload)) + payload + (b"\x00" if len(payload) & 1 else b"")

    def lst(subtype, payload):
        return chunk(b"LIST", subtype + payload)

    auds_strl = lst(b"strl", chunk(b"strh", b"auds" + b"\x00" * 52) + chunk(b"strf", b"\x00" * 18))
    marker = lst(b"strl", b"")[:0]  # noqa: F841  (clarity only)
    # splice: hdrl currently holds [avih][video strl]; rebuild with audio first
    mj, payloads = _avi_mjpeg_fixture(n_frames=3, fps=2, w=16, h=8)
    # decompose the original to find avih + strl + movi via the public parser
    # (simpler: rebuild from scratch with the same writer primitives)
    n = len(payloads)
    avih = struct.pack("<14I", 500000, 1, 0, 0, n, 0, 2, 1, 16, 8, 0, 0, 0, 0)
    vstrh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, 2, 0, n, 1, 0, -1)
        + struct.pack("<4H", 0, 0, 16, 8)
    )
    vstrf = struct.pack("<IiiHH4sIiiII", 40, 16, 8, 1, 24, b"MJPG", 16 * 8 * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + auds_strl
        + lst(b"strl", chunk(b"strh", vstrh) + chunk(b"strf", vstrf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"01dc", f) for f in payloads))
    body = b"AVI " + hdrl + movi
    audio_first = b"RIFF" + struct.pack("<I", len(body)) + body
    frames = MM.sample_video_frames(audio_first, every_ms=1)
    assert len(frames) == 3  # 01dc frames found via the vids stream index


def test_avi_short_dib_chunk_raises():
    imgs = [_test_img(w=8, h=6, seed=50)]
    content = bytearray(MM.encode_avi_dib(imgs, fps=2))
    # shrink the declared size of the single 00db chunk below a full frame
    pos = bytes(content).index(b"00db")
    import struct

    struct.pack_into("<I", content, pos + 4, 10)
    meta, frames = MM._parse_avi(bytes(content))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="short DIB"):
        MM._avi_frame_luma(bytes(content), frames[0][0], frames[0][1], meta)


def test_m4_audio_codec_cross_codec_rollup(spark):
    """m4 (r7): PCM16's rollup row must equal numpy stats of the decoded
    fixture signals (lossless reference, float32-storage precision); the G.711 mu-law and IMA
    ADPCM rows ride the same production decode path and must land CLOSE to
    it (lossy codecs — the m3 MJPEG precedent)."""
    import numpy as np

    from tts_etl_pipeline_spark.operators.multimodal import (
        _m4_signals,
        m4_audio_codec_features,
    )

    got = {r["codec"]: r for r in m4_audio_codec_features(spark, "unused").collect()}
    assert set(got) == {"pcm16", "mulaw", "adpcm"}
    assert all(r["n_clips"] == 4 for r in got.values())
    # exact reference: the decode path normalizes int16 by /32768
    ms, ss, rs = [], [], []
    for _, _, x in _m4_signals():
        f = x.astype(np.float64) / 32768.0
        ms.append(round(float(f.mean()), 9))
        ss.append(round(float(f.std()), 9))
        rs.append(round(float(np.sqrt(np.mean(np.square(f)))), 9))
    # feature vectors are float32 (FEATURE_SCHEMA) — the reference is
    # close up to float32 accumulation inside the extractor (~1e-5)
    assert got["pcm16"]["avg_mean"] == pytest.approx(np.mean(ms), abs=5e-5)
    assert got["pcm16"]["avg_std"] == pytest.approx(np.mean(ss), abs=5e-5)
    assert got["pcm16"]["avg_rms"] == pytest.approx(np.mean(rs), abs=5e-5)
    # lossy proximity: mu-law quantization is fine-grained (~0.5% here);
    # ADPCM's 4-bit residuals drift more but stay within a few percent
    ref = got["pcm16"]
    assert got["mulaw"]["avg_rms"] == pytest.approx(ref["avg_rms"], rel=0.01)
    assert got["mulaw"]["avg_std"] == pytest.approx(ref["avg_std"], rel=0.01)
    assert abs(got["mulaw"]["avg_mean"] - ref["avg_mean"]) < 0.005
    assert got["adpcm"]["avg_rms"] == pytest.approx(ref["avg_rms"], rel=0.05)
    assert got["adpcm"]["avg_std"] == pytest.approx(ref["avg_std"], rel=0.05)
    assert abs(got["adpcm"]["avg_mean"] - ref["avg_mean"]) < 0.02


def test_m5_dhash_neardup_matches_bruteforce(spark):
    """m5's distributed LSH-band + popcount pipeline must equal the exact
    driver-side evaluation of the SAME semantics (candidates share >= 1
    16-bit band AND hamming <= M5_HAMMING_MAX), and the three designed
    cross-codec near-dup pairs must surface with their known distances."""
    import itertools

    from tts_etl_pipeline_spark.operators.multimodal import (
        M5_HAMMING_MAX,
        _m5_media,
        decode_image,
        dhash64,
        m5_image_dhash_neardup,
    )

    hs = {m: dhash64(decode_image(bytes(p))) for m, p in _m5_media()}
    expected = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        ham = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        bands = any(
            ((hs[a] >> (16 * i)) & 0xFFFF) == ((hs[b] >> (16 * i)) & 0xFFFF)
            for i in range(4)
        )
        if bands and ham <= M5_HAMMING_MAX:
            expected[(a, b)] = ham
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in m5_image_dhash_neardup(spark, "unused").collect()
    }
    assert got == expected
    # fixture geometry: brightness lift is hash-invariant (ham 0), the two
    # localized block edits flip a handful of gradient bits
    assert got[("base00.png", "copy00.bmp")] == 0
    assert 0 < got[("base01.png", "copy01.bmp")] <= M5_HAMMING_MAX
    assert 0 < got[("base02.png", "copy02.bmp")] <= M5_HAMMING_MAX


def test_m6_audio_fingerprint_neardup_matches_bruteforce(spark):
    """m6's banded audio pipeline must equal the exact driver-side
    evaluation of the SAME semantics (candidates share >= 1 16-bit band
    AND hamming <= M6_HAMMING_MAX); the amplitude-invariance law must
    hold exactly (scaled copy at hamming 0) and the extra-tone variant
    at exactly hamming 1."""
    import itertools

    from tts_etl_pipeline_spark.audio.decode import decode_wav_bytes
    from tts_etl_pipeline_spark.operators.multimodal import (
        M6_HAMMING_MAX,
        M6_N_BASES,
        _m6_clips,
        audio_fingerprint64,
        m6_audio_fingerprint_neardup,
    )

    hs = {m: audio_fingerprint64(decode_wav_bytes(bytes(p))[0]) for m, p in _m6_clips()}
    expected = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        ham = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        bands = any(
            ((hs[a] >> (16 * i)) & 0xFFFF) == ((hs[b] >> (16 * i)) & 0xFFFF)
            for i in range(4)
        )
        if bands and ham <= M6_HAMMING_MAX:
            expected[(a, b)] = ham
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in m6_audio_fingerprint_neardup(spark, "unused").collect()
    }
    assert got == expected
    for i in range(M6_N_BASES):
        # energy-share bits are amplitude-ratio bits: scaling is invisible
        assert got[(f"clip{i:02d}.orig", f"clip{i:02d}.scaled")] == 0
        # the designed extra weak tone adds exactly one band bit
        assert got[(f"clip{i:02d}.noisy", f"clip{i:02d}.orig")] == 1
    # every surfaced pair is within one base; cross-base tone sets are far
    assert all(a.split(".")[0] == b.split(".")[0] for a, b in got)
