"""Randomized codec properties (hypothesis): the lossless codecs
(PNG, GIF container-level, WAV, AVI) must roundtrip BIT-EXACTLY on
arbitrary content; the lossy one (JPEG) must stay inside a
quantization-derived tolerance and never crash or mis-shape. These
complement the hand-built vectors in test_multimodal/test_jpeg/
test_audio/test_video with adversarial shapes a human wouldn't
write."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from trisk_datawrangle_spark.llm.audio import decode_wav, encode_wav
from trisk_datawrangle_spark.llm.jpeg import decode_jpeg, encode_jpeg
from trisk_datawrangle_spark.llm.multimodal import (
    decode_png,
    encode_png,
    resample_nearest,
)
from trisk_datawrangle_spark.llm.video import (
    decode_avi_frames,
    encode_avi_mjpeg,
)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_random(w, h, ch, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
    assert decode_png(encode_png(w, h, ch, px)) == (w, h, ch, px)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 20),
    ch=st.sampled_from([1, 3]),
    nw=st.integers(1, 16),
    nh=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_resample_nearest_pixel_provenance(w, h, ch, nw, nh, seed):
    """Every output pixel is an exact copy of the floor-division
    source pixel — nothing interpolated, nothing out of range."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
    out = resample_nearest(w, h, ch, px, nw, nh)
    assert len(out) == nw * nh * ch
    for oy in range(nh):
        for ox in range(nw):
            sx = min(ox * w // nw, w - 1)
            sy = min(oy * h // nh, h - 1)
            got = out[(oy * nw + ox) * ch:(oy * nw + ox + 1) * ch]
            want = px[(sy * w + sx) * ch:(sy * w + sx + 1) * ch]
            assert got == want


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 48),
    h=st.integers(1, 32),
    ch=st.sampled_from([1, 3]),
    quality=st.integers(55, 97),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_never_crashes_and_bounds_error(w, h, ch, quality, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = encode_jpeg(w, h, ch, img.tobytes(), quality=quality)
    got = decode_jpeg(payload)
    assert got is not None
    gw, gh, gch, px = got
    assert (gw, gh, gch) == (w, h, ch)
    dec = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    # On full-range NOISE the per-pixel RGB error is NOT bounded
    # tightly by quantization at ANY subsampling: the Annex-K CHROMA
    # table is coarse (flat 99 in the high frequencies; ~109 at q55),
    # and a chroma coefficient error propagates x1.77 into B via the
    # color matrix — measured 235 at 4:4:4, 207 at 4:2:0 on the
    # hypothesis counterexample. What quantization does bound is the
    # LUMA plane (fine table), so assert there (a broken zigzag/
    # predictor/Huffman path still shows up as ~128-256 luma error).
    if ch == 3:
        wts = np.array([0.299, 0.587, 0.114])
        luma_err = np.abs(
            (dec.astype(float) @ wts) - (img.astype(float) @ wts)
        ).max()
    else:
        luma_err = np.abs(dec.astype(int) - img.astype(int)).max()
    assert luma_err <= 200, luma_err
    if quality >= 90:
        assert luma_err <= 35, luma_err


@settings(max_examples=10, deadline=None)
@given(quality=st.integers(55, 97))
def test_jpeg_chroma_path_reconstructs_colors(quality):
    """The chroma RECONSTRUCTION path (Cb/Cr quantization, 4:2:0
    subsample + upsample geometry, color matrix) under a TIGHT bound:
    a non-square two-region red/blue image has smooth chroma planes,
    so interior pixels reconstruct within ~1 (measured across
    qualities). A swapped Cb/Cr flips red<->blue (~170 error); a
    transposed/misshapen 2x2 upsample scrambles the non-square plane;
    both blow the 40 bound. Random-noise chroma can NOT be bounded
    tightly at any quality (coarse Annex-K chroma table x1.77 color
    gain), which is why this arm is structured, not random."""
    img = np.zeros((16, 32, 3), np.uint8)
    img[:, :16] = (200, 30, 30)
    img[:, 16:] = (30, 30, 200)
    payload = encode_jpeg(
        32, 16, 3, img.tobytes(), quality=quality, subsampling="420"
    )
    got = decode_jpeg(payload)
    assert got is not None
    dec = np.frombuffer(got[3], dtype=np.uint8).reshape(16, 32, 3)
    for y, x in [(8, 6), (8, 25), (3, 4), (12, 28)]:
        err = np.abs(dec[y, x].astype(int) - img[y, x].astype(int)).max()
        assert err <= 40, (y, x, err)


@settings(max_examples=25, deadline=None)
@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    channels=st.integers(1, 3),
    bits=st.sampled_from([8, 16]),
    n=st.integers(0, 300),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_random(rate, channels, bits, n, seed):
    rng = np.random.default_rng(seed)
    if bits == 8:
        samples = [int(v) for v in rng.integers(0, 256, n * channels)]
    else:
        samples = [
            int(v) for v in rng.integers(-32768, 32768, n * channels)
        ]
    payload = encode_wav(rate, channels, bits, samples)
    assert decode_wav(payload) == (rate, channels, bits, samples)


@settings(max_examples=15, deadline=None)
@given(
    n_frames=st.integers(0, 8),
    fps=st.integers(1, 60),
    seed=st.integers(0, 2**31 - 1),
)
def test_avi_container_roundtrip_random(n_frames, fps, seed):
    """Container transparency on ARBITRARY frame bytes (not even
    valid JPEGs — the container must not care), including odd
    lengths and empty frames."""
    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, int(ln), dtype=np.uint8).tobytes()
        for ln in rng.integers(0, 64, n_frames)
    ]
    avi = encode_avi_mjpeg(16, 8, fps, frames)
    got = decode_avi_frames(avi)
    assert got is not None
    w, h, gfps, fr = got
    assert (w, h) == (16, 8)
    assert gfps == 1_000_000 // (1_000_000 // fps)
    assert fr == frames


@given(
    body=st.binary(min_size=0, max_size=600),
    chunk=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=60, deadline=None)
def test_chunked_http_roundtrip_property(body, chunk):
    """encode -> dechunk is the identity for ANY body bytes and any
    chunk size, with the chunk count exactly ceil(len/size)."""
    from trisk_datawrangle_spark.llm.extract import (
        http_body_chunks,
        http_chunk_encode,
    )

    raw = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        + http_chunk_encode(body, chunk)
    )
    got = http_body_chunks(raw)
    assert got is not None
    assert got[0] == body
    assert got[1] == -(-len(body) // chunk)


@given(
    w=st.integers(min_value=2, max_value=40),
    h=st.integers(min_value=2, max_value=30),
    seed=st.integers(min_value=0, max_value=10**6),
    delta=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=40, deadline=None)
def test_dhash_brightness_invariance_property(w, h, seed, delta):
    """Any uniform +delta on every channel that stays clip-free
    preserves the dHash exactly (integer luma moves uniformly)."""
    from trisk_datawrangle_spark.llm.phash import dhash_bits

    base = bytes(
        (seed + 7 * x + 13 * y + 3 * c) % (256 - delta)
        for y in range(h)
        for x in range(w)
        for c in range(4)
    )
    shifted = bytes(v + delta for v in base)
    assert dhash_bits(w, h, 4, base) == dhash_bits(w, h, 4, shifted)


@given(
    w=st.integers(min_value=8, max_value=24),
    h=st.integers(min_value=8, max_value=24),
    seed=st.integers(min_value=0, max_value=10**6),
    q=st.integers(min_value=50, max_value=95),
)
@settings(max_examples=25, deadline=None)
def test_progressive_equals_baseline_property(w, h, seed, q):
    """Progressive decode == baseline decode, bit for bit, across
    random geometry/quality/content (the m8 gate as a property)."""
    import numpy as np

    from trisk_datawrangle_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(seed % 2**31)
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()
    base = decode_jpeg(encode_jpeg(w, h, 3, px, quality=q))
    prog = decode_jpeg(encode_jpeg_progressive(w, h, 3, px, quality=q))
    assert base is not None and prog is not None
    assert prog == base
