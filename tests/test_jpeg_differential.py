"""ocr/jpeg.py's vectorized decoder against the bit-serial reference
(tests/jpeg_reference.py): identical coefficients on random and
corrupted files, identical pixels on every fixture and scan_batch pool
page, and bounded transient memory on a large page."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from pero_ocr_api_spark.corpus import doc_record
from pero_ocr_api_spark.ocr import jpeg
from pero_ocr_api_spark.ocr.render import BlockSpec, render_page
from perfbench.inputs import SCAN_KINDS, SCAN_POOL_SEED
from tests import jpeg_reference


@st.composite
def _jpegs(draw):
    """A baseline JPEG of random size, content and quantization table,
    with random trailing entropy bytes (past what a small page's
    blocks can consume), random byte flips and a random truncation
    inside the entropy segment (between the SOS header and the EOI
    marker)."""
    img = draw(arrays(np.uint8, st.tuples(st.integers(1, 70), st.integers(1, 70))))
    quant = np.array(draw(st.lists(st.integers(1, 255), min_size=64, max_size=64)))
    data = bytearray(jpeg.encode_gray(img, quant=quant))
    data[-2:-2] = draw(st.binary(max_size=600)).replace(b"\xff", b"\xfe")
    lo = data.index(b"\xff\xda") + 10
    hi = len(data) - 2
    flips = st.tuples(st.integers(0, 1 << 16), st.integers(1, 255))
    for off, x in draw(st.lists(flips, max_size=4)):
        data[lo + off % (hi - lo)] ^= x
    cut = draw(st.none() | st.integers(0, 1 << 16))
    if cut is not None:
        data = data[: lo + cut % (hi + 2 - lo)]
    return bytes(data)


# How close to a .5 tie the reference's unrounded pixel must be for a
# one-level difference to count as summation order rather than a bug.
# Summing the IDCT in matmul rather than einsum order moved unrounded
# pixels by at most 2.3e-13 over 3000 random-quantization decodes.
TIE_EPS = 1e-9


@settings(max_examples=300, deadline=None)
@given(_jpegs())
def test_decode_matches_bit_serial_reference(data):
    """Identical output, or both raise JpegError. Identical means the
    same uint8 as the reference's einsum IDCT on every pixel, except
    where the reference's unrounded value sits within TIE_EPS of a .5
    tie: the matmul and the einsum sum in different orders, so such a
    pixel may round one level apart (seen with random quantization
    tables, never on the fixture or pool pages pinned below). The
    coefficients themselves must match exactly, which the production
    IDCT applied to the reference's coefficients checks."""
    try:
        ref = jpeg_reference.decode_coefficients(data)
    except jpeg.JpegError:
        with pytest.raises(jpeg.JpegError):
            jpeg.decode_gray(data)
        return
    got = jpeg.decode_gray(data)
    assert got.dtype == np.uint8
    assert np.array_equal(got, jpeg._idct_pixels(*ref))
    unrounded = jpeg_reference.unrounded_pixels(*ref)
    expected = np.clip(np.round(unrounded), 0, 255).astype(np.uint8)
    off = got != expected
    tie = np.abs(unrounded - np.floor(unrounded) - 0.5) < TIE_EPS
    assert not (off & ~tie).any()
    assert np.abs(got.astype(int) - expected.astype(int)).max(initial=0) <= 1

def _fixture_images():
    rng = np.random.RandomState(3)
    page, _ = render_page(
        [BlockSpec(y=16, x=16, lines=[("SCAN PAGE LINE", 0.0), ("INK MARK", 0.2)])],
        5,
        seed=7,
    )
    return [
        ((np.add.outer(np.arange(40), np.arange(52)) % 256).astype(np.uint8), None),
        (rng.randint(0, 256, (33, 41)).astype(np.uint8), None),
        ((rng.rand(64, 96) > 0.5).astype(np.uint8) * 255, None),
        (np.full((17, 23), 200, dtype=np.uint8), None),
        (np.arange(9 * 13, dtype=np.uint8).reshape(9, 13), None),
        (page, None),
        (page, np.full(64, 4, dtype=np.int64)),
    ]


@pytest.mark.parametrize("idx", range(len(_fixture_images())))
def test_fixture_pages_byte_identical_to_reference(idx):
    img, quant = _fixture_images()[idx]
    data = jpeg.encode_gray(img, quant=quant)
    assert np.array_equal(jpeg.decode_gray(data), jpeg_reference.decode_gray(data))


def _pool_jpeg(j: int) -> bytes:
    """The JPEG of scan_batch pool page j (perfbench/inputs.py): a
    baseline JPEG page for even j, a /DCTDecode scanned PDF for odd."""
    pinned, kind = SCAN_KINDS[j % 2]
    _, media = doc_record(SCAN_POOL_SEED + j, pinned)
    (body,) = [
        r["media_bytes"]
        for r in media
        if r["media_kind"] == kind and r["media_ref"].endswith(("_jpeg", "_pdfscan"))
    ]
    if kind == "application/pdf":  # the one embedded /DCTDecode payload
        body = body[body.index(b"\xff\xd8") : body.rindex(b"\xff\xd9") + 2]
    return body


def test_scan_pool_pages_byte_identical_to_reference():
    for j in range(48):
        data = _pool_jpeg(j)
        got = jpeg.decode_gray(data)
        assert np.array_equal(got, jpeg_reference.decode_gray(data)), j


def test_decode_memory_bounded_on_large_white_page():
    """Peak transient memory stays under the bounds the decoder's
    docstrings state: 8 bytes per pixel plus 160 per entropy byte while
    entropy decoding, 24 bytes per pixel while reconstructing."""
    img = np.full((2000, 1504), 255, dtype=np.uint8)
    img[100:1900:60, 150:1350] = 0  # one-pixel rules on a white page
    data = jpeg.encode_gray(img)
    *_, scan_start = jpeg._parse(data)
    ent_bytes = len(jpeg._unstuff(data[scan_start:]))
    jpeg.decode_gray(data)  # memoize the Huffman LUTs outside the trace
    tracemalloc.start()
    try:
        out = jpeg.decode_gray(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out.shape == img.shape
    px = img.size
    bound = max(8 * px + 160 * ent_bytes, 24 * px) + 4 * len(data) + (1 << 20)
    assert peak < bound, (peak, bound)


def test_decode_memory_independent_of_trailing_entropy_data():
    """A 1x1 page whose entropy segment runs on for 4 MB of zero bytes
    (no markers, so it unstuffs cleanly): only what one block can
    consume is decoded, so the peak stays at copies of the input rather
    than tens of bytes per trailing byte."""
    data = jpeg.encode_gray(np.full((1, 1), 77, dtype=np.uint8))
    padded = data[:-2] + bytes(4 << 20) + data[-2:]  # before the EOI
    expected = jpeg_reference.decode_gray(padded)
    assert np.array_equal(expected, jpeg.decode_gray(data))
    jpeg.decode_gray(padded)  # memoize the Huffman LUTs outside the trace
    tracemalloc.start()
    try:
        out = jpeg.decode_gray(padded)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert np.array_equal(out, expected)
    assert peak < 3 * len(padded), (peak, len(padded))
