"""Property tests for the round-5 JPEG codec: ANY uint8 image of any
small shape must round-trip through every encoder mode without error,
with bounded reconstruction error, and progressive must reproduce the
baseline decode byte-for-byte (same coefficients, different scan
organization). No Spark session needed — pure codec properties."""

import struct

import numpy as np
from hypothesis import example, given, settings, strategies as st

from schema_validata_spark.operators.jpegcodec import (
    decode_jpeg, encode_jpeg)


def _img(h, w, channels, seed, kind):
    rng = np.random.default_rng(seed)
    if kind == "noise":
        a = rng.integers(0, 256, (h, w, 3))
    elif kind == "flat":
        a = np.full((h, w, 3), int(rng.integers(0, 256)))
    else:  # gradient + structure
        a = (np.add.outer(np.arange(h) * int(rng.integers(1, 9)),
                          np.arange(w) * int(rng.integers(1, 9)))
             % 256)[..., None] + np.array([0, 60, 120])
    a = np.clip(a, 0, 255).astype(np.uint8)
    return a[:, :, 0] if channels == 1 else a[:, :, :3]


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 40), w=st.integers(1, 40),
       channels=st.sampled_from([1, 3]),
       seed=st.integers(0, 10**6),
       kind=st.sampled_from(["noise", "flat", "grad"]),
       quality=st.integers(40, 98),
       sub=st.sampled_from(["444", "420"]),
       progressive=st.booleans(),
       ri=st.sampled_from([0, 0, 1, 3]))
def test_any_image_roundtrips(h, w, channels, seed, kind, quality,
                              sub, progressive, ri):
    arr = _img(h, w, channels, seed, kind)
    if channels == 1:
        sub = "444"
    if progressive:
        ri = 0                      # progressive encoder: no DRI
    blob = encode_jpeg(arr, quality=quality, subsampling=sub,
                       restart_interval=ri, progressive=progressive)
    dec = decode_jpeg(blob)
    assert dec.shape == (h, w, channels)
    assert dec.dtype == np.uint8
    # error bound: quantization at quality q keeps flat/gradient
    # images close; noise can deviate more but stays bounded
    src = arr if channels == 3 else arr[..., None]
    err = np.abs(dec.astype(int) - src.astype(int)).mean()
    assert err < (90 if kind == "noise" and quality < 70 else 60)


@settings(max_examples=15, deadline=None)
@given(h=st.integers(1, 33), w=st.integers(1, 33),
       seed=st.integers(0, 10**6),
       quality=st.integers(50, 95),
       sub=st.sampled_from(["444", "420"]))
def test_progressive_always_equals_baseline(h, w, seed, quality, sub):
    arr = _img(h, w, 3, seed, "noise")
    b = decode_jpeg(encode_jpeg(arr, quality=quality, subsampling=sub))
    p = decode_jpeg(encode_jpeg(arr, quality=quality, subsampling=sub,
                                progressive=True))
    assert np.array_equal(p, b)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10**6), cut=st.floats(0.02, 0.98))
def test_truncation_never_crashes_or_hangs(seed, cut):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    blob = encode_jpeg(arr, quality=80,
                       progressive=bool(seed % 2))
    part = blob[:max(2, int(len(blob) * cut))]
    try:
        out = decode_jpeg(part)
        # progressive may legitimately decode a partial-scan image
        assert out.shape[2] in (1, 3)
    except ValueError:
        pass                         # clean error is the contract


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10**6), n_flips=st.integers(1, 12))
@example(seed=106978, n_flips=8)     # a chroma sampling factor of 0
def test_random_corruption_never_crashes(seed, n_flips):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    blob = bytearray(encode_jpeg(arr, quality=80,
                                 progressive=bool(seed % 2)))
    for _ in range(n_flips):
        blob[int(rng.integers(2, len(blob)))] = int(rng.integers(256))
    try:
        out = decode_jpeg(bytes(blob))
        assert out.dtype == np.uint8     # garbage pixels OK, crash not
    except (ValueError, struct.error):
        # clean rejection — the poison channel's contract; struct.error
        # can surface from short header reads mid-corruption
        pass
