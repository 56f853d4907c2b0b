"""Baseline-JPEG codec (ocr/jpeg.py) + scanned-PDF page images
(pdf.extract_page_images): roundtrips, subset refusals, kernel path."""

from __future__ import annotations

import numpy as np
import pytest

from pero_ocr_api_spark.ocr import jpeg, kernel, pdf
from pero_ocr_api_spark.ocr.render import BlockSpec, render_page


def _page():
    img, truth = render_page(
        [BlockSpec(y=16, x=16, lines=[("SCAN PAGE LINE", 0.0), ("INK MARK", 0.2)])],
        5,
        seed=7,
    )
    return img, truth


def test_roundtrip_near_lossless():
    rng = np.random.RandomState(3)
    for img in (
        (np.add.outer(np.arange(40), np.arange(52)) % 256).astype(np.uint8),
        rng.randint(0, 256, (33, 41)).astype(np.uint8),
        (rng.rand(64, 96) > 0.5).astype(np.uint8) * 255,
        np.full((17, 23), 200, dtype=np.uint8),
        _page()[0],
    ):
        dec = jpeg.decode_gray(jpeg.encode_gray(img))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_roundtrip_odd_sizes_cropped_exactly():
    img = np.arange(9 * 13, dtype=np.uint8).reshape(9, 13)
    dec = jpeg.decode_gray(jpeg.encode_gray(img))
    assert dec.shape == (9, 13)


def test_quantized_roundtrip_still_decodes():
    # a real lossy table (not the flat fixture default) must decode;
    # error is bounded by the table's coarseness, not correctness
    img = _page()[0]
    q = np.full(64, 4, dtype=np.int64)
    dec = jpeg.decode_gray(jpeg.encode_gray(img, quant=q))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 8


def test_outside_subset_rejected():
    base = bytearray(jpeg.encode_gray(np.zeros((8, 8), np.uint8)))

    def mutate(marker_from, to):
        b = bytearray(base)
        i = b.find(bytes([0xFF, marker_from]))
        assert i >= 0
        b[i + 1] = to
        return bytes(b)

    with pytest.raises(jpeg.JpegError):  # progressive
        jpeg.decode_gray(mutate(0xC0, 0xC2))
    with pytest.raises(jpeg.JpegError):  # not a JPEG
        jpeg.decode_gray(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(jpeg.JpegError):  # truncated entropy stream
        jpeg.decode_gray(bytes(base)[:-4])
    # multi-component SOF
    b = bytearray(base)
    i = b.find(b"\xff\xc0")
    b[i + 9] = 3  # ncomp
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bytes(b))
    # DRI segment injected before SOS
    b = bytearray(base)
    i = b.find(b"\xff\xda")
    b[i:i] = b"\xff\xdd\x00\x04\x00\x10"
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bytes(b))


def test_scanned_pdf_roundtrip_and_order():
    img1, _ = _page()
    img2 = (np.add.outer(np.arange(24), np.arange(32)) % 256).astype(np.uint8)
    body = pdf.encode_scanned_pdf([img1, img2])
    imgs = pdf.extract_page_images(body)
    assert len(imgs) == 2
    assert imgs[0].shape == img1.shape and imgs[1].shape == img2.shape
    assert np.abs(imgs[0].astype(int) - img1.astype(int)).max() <= 2
    # a scanned PDF has no text operators
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(body)


def test_scanned_pdf_flate_raw_samples_path():
    import zlib

    img = np.arange(16 * 24, dtype=np.uint8).reshape(16, 24)
    payload = zlib.compress(img.tobytes(), 9)
    body = pdf._assemble_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 24 16] "
            b"/Contents 4 0 R /Resources << /XObject << /Im1 5 0 R >> >> >>",
            b"<< /Length 26 >>\nstream\nq 24 0 0 16 0 0 cm /Im1 Do Q\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width 24 /Height 16 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
            % (len(payload), payload),
        ]
    )
    [got] = pdf.extract_page_images(body)
    assert np.array_equal(got, img)


def test_scanned_pdf_color_image_rejected():
    img, _ = _page()
    body = pdf.encode_scanned_pdf([img]).replace(
        b"/ColorSpace /DeviceGray", b"/ColorSpace /DeviceRGB"
    )
    with pytest.raises(pdf.PdfError):
        pdf.extract_page_images(body)


def test_kernel_jpeg_and_scanned_pdf_paths():
    img, truth = _page()
    r = kernel.process_media(jpeg.encode_gray(img), "image/jpeg", "m_jpg")
    assert r.state == kernel.STATE_PROCESSED
    assert r.text == truth
    r2 = kernel.process_media(
        pdf.encode_scanned_pdf([img]), "application/pdf", "m_scan"
    )
    assert r2.state == kernel.STATE_PROCESSED
    assert r2.text == truth
    # multi-page scanned PDF reads in page order
    img2, truth2 = render_page(
        [BlockSpec(y=16, x=16, lines=[("VERSE FOLIO", 0.0)])], 5, seed=9
    )
    r3 = kernel.process_media(
        pdf.encode_scanned_pdf([img, img2]), "application/pdf", "m_scan2"
    )
    assert r3.state == kernel.STATE_PROCESSED
    assert r3.text == truth + "\n" + truth2


def test_malformed_jpeg_raises_typed_error_not_struct_or_index():
    """Malformed (vs outside-subset) files must keep the JpegError
    contract (review finding: struct.error / IndexError leaked)."""
    base = bytearray(jpeg.encode_gray(np.zeros((8, 8), np.uint8)))
    # SOF segment with an impossible short length
    b = bytearray(base)
    i = b.find(b"\xff\xc0")
    b[i + 2 : i + 4] = (4).to_bytes(2, "big")
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bytes(b))
    # DHT declaring 17 codes of length 1 (code space overflow)
    bad_dht = bytes([0xFF, 0xC4, 0x00, 0x24, 0x00, 17]) + bytes(15) + bytes(
        range(17)
    )
    b = bytearray(base)
    i = b.find(b"\xff\xc4")
    b[i:i] = bad_dht
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bytes(b))
    # truncated DHT payload
    b = bytearray(base)
    i = b.find(b"\xff\xc4")
    b[i + 2 : i + 4] = (6).to_bytes(2, "big")
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bytes(b[: i + 8]) + bytes(base[b.find(b"\xff\xda") :]))


def test_scanned_pdf_with_corrupt_jpeg_raises_pdferror():
    """extract_page_images catches only JpegError — every malformed
    embedded JPEG must surface as PdfError, not struct/IndexError."""
    img, _ = _page()
    body = pdf.encode_scanned_pdf([img])
    # corrupt the embedded JPEG's entropy tail
    i = body.rfind(b"\xff\xda")
    corrupted = body[: i + 10] + b"\xff\xc2" + body[i + 12 :]
    with pytest.raises(pdf.PdfError):
        pdf.extract_page_images(corrupted)


def test_image_xobject_dict_not_shadowed_by_earlier_objects():
    """_STREAM_RE's dict capture can span earlier NON-stream objects
    (a font dict between two streams — the common real-PDF layout);
    the image XObject's own dict must win (review finding: /Subtype
    /Type1 from the font shadowed /Subtype /Image)."""
    img, _ = _page()
    body = pdf.encode_scanned_pdf([img])
    # splice a font object between the content stream and the image
    marker = b"/Type /XObject"
    i = body.find(marker)
    obj_start = body.rfind(b" 0 obj", 0, i)
    num_start = body.rfind(b"\n", 0, obj_start) + 1
    font_obj = b"9 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
    spliced = body[:num_start] + font_obj + body[num_start:]
    [got] = pdf.extract_page_images(spliced)
    assert got.shape == img.shape


def test_last_top_dict_survives_binary_junk_brackets():
    """Stray '<<'/'>>' byte pairs inside a previous stream's binary
    payload are noise, not structure — unbalanced junk must never
    starve the real dict (review finding: depth went negative)."""
    # two net-excess '>>' then the real dict
    assert (
        pdf._last_top_dict(b"<< \x01>>\x02>> junk << /Real 1 >>")
        == b" /Real 1 "
    )
    # stray unmatched '<<' widens the span but keys still resolve
    got = pdf._last_top_dict(b"<< \xff<<\xfe << /K 2 >> tail >>")
    assert b"/K 2" in got


def test_scanned_pdf_with_bracket_noise_in_payload_roundtrips():
    """End-to-end: a stream payload containing literal '>>'/'<<' byte
    runs (injected via a COM segment in the first page's JPEG) must
    not poison the NEXT stream's dict scan — the depth-clamped
    _last_top_dict path, exercised for real this time (review
    finding: the first version of this test never injected noise)."""
    img = np.arange(16 * 24, dtype=np.uint8).reshape(16, 24)
    noise = b">>>>\x01>><<\x02<<junk>>"
    enc = jpeg.encode_gray(img)
    # splice a COM segment (decoder skips it) right after SOI
    com = b"\xff\xfe" + (len(noise) + 2).to_bytes(2, "big") + noise
    noisy = enc[:2] + com + enc[2:]
    assert noise in noisy
    img2 = np.full((8, 8), 9, dtype=np.uint8)
    enc2 = jpeg.encode_gray(img2)

    def image_obj(num, payload, w, h):
        return (
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream"
            % (w, h, len(payload), payload)
        )

    body = pdf._assemble_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 24 16] "
            b"/Contents 5 0 R /Resources << /XObject << /Im1 5 0 R >> >> >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 8 8] "
            b"/Contents 6 0 R /Resources << /XObject << /Im1 6 0 R >> >> >>",
            image_obj(5, noisy, 24, 16),
            image_obj(6, enc2, 8, 8),
        ]
    )
    imgs = pdf.extract_page_images(body)
    assert len(imgs) == 2
    # the noisy payload decodes (COM skipped) AND the following
    # image's dict survived the bracket junk in payload 1
    assert imgs[0].shape == (16, 24) and imgs[1].shape == (8, 8)
    assert np.abs(imgs[0].astype(int) - img.astype(int)).max() <= 2


def test_text_pdf_with_embedded_image_keeps_its_text():
    """A digital-text PDF carrying a /DCTDecode logo must extract its
    TEXT — image XObjects are skipped, never re-routed to OCR or
    allowed to poison extract_text (review finding)."""
    logo = np.full((16, 16), 128, dtype=np.uint8)
    payload = jpeg.encode_gray(logo)
    text_body = pdf.encode_text_pdf(["hello world", "second line"])
    # append the image XObject as an extra body object before the xref
    i = text_body.find(b"xref")
    img_obj = (
        b"8 0 obj\n<< /Type /XObject /Subtype /Image /Width 16 /Height 16 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(payload), payload)
    )
    hybrid = text_body[:i] + img_obj + text_body[i:]
    assert pdf.extract_text(hybrid) == ["hello world", "second line"]
    r = kernel.process_media(hybrid, "application/pdf", "m_hybrid")
    assert r.state == kernel.STATE_PROCESSED
    assert r.text == "hello world\nsecond line"


def test_broken_text_pdf_stays_invalid_not_rerouted():
    """A TEXT pdf whose content stream is corrupt must stay
    INVALID_FILE — never silently re-routed to the image-OCR fallback
    (review finding: the fallback fired on ANY PdfError)."""
    body = pdf.encode_text_pdf(["some text"])
    broken = body.replace(b"/Filter /FlateDecode", b"/Filter /JBIG2Decode")
    r = kernel.process_media(broken, "application/pdf", "m_broken")
    assert r.state == kernel.STATE_INVALID_FILE


def test_kernel_fake_pdf_still_invalid():
    r = kernel.process_media(b"%PDF-1.4 fake", "application/pdf", "m_bad")
    assert r.state == kernel.STATE_INVALID_FILE


def test_kernel_corrupt_jpeg_invalid():
    r = kernel.process_media(b"\xff\xd8garbage", "image/jpeg", "m_badjpg")
    assert r.state == kernel.STATE_INVALID_FILE


def test_fill_bytes_before_eoi_decode():
    """Runs of 0xFF immediately before EOI are spec-legal optional fill
    (T.81 B.1.1.2) emitted by real encoders — they must be excluded
    from the entropy data, not rejected (round-5 advice)."""
    img = _page()[0]
    enc = jpeg.encode_gray(img)
    assert enc.endswith(b"\xff\xd9")
    base = jpeg.decode_gray(enc)
    for n_fill in (1, 3):
        filled = enc[:-2] + b"\xff" * n_fill + b"\xff\xd9"
        dec = jpeg.decode_gray(filled)
        assert np.array_equal(dec, base)


def test_fill_bytes_before_data_still_rejected():
    """0xFF fill is only legal before a marker; a run resuming into
    entropy data (0xFF 0xFF 0x00) stays a typed refusal."""
    img = _page()[0]
    enc = jpeg.encode_gray(img)
    i = enc.index(b"\xff\xd9", 2)  # splice fill mid-stream, not at EOI
    bad = enc[: i - 4] + b"\xff\xff\x00" + enc[i - 4 :]
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bad)


def _jpeg_with_ac_table(ac_bits, ac_vals, entropy: bytes) -> bytes:
    """An 8x8 baseline JPEG whose AC Huffman table and entropy data are
    replaced (the DC table stays Annex K, where '00' codes a zero
    difference)."""
    base = jpeg.encode_gray(np.zeros((8, 8), np.uint8))
    ac_dht = base.index(b"\xff\xc4", base.index(b"\xff\xc4") + 2)
    sos = base.index(b"\xff\xda")
    payload = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    seg = b"\xff\xc4" + (len(payload) + 2).to_bytes(2, "big") + payload
    return base[:ac_dht] + seg + base[sos : sos + 10] + entropy + b"\xff\xd9"


def _dct_pdf(payload: bytes, w: int, h: int) -> bytes:
    return pdf._assemble_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Contents 4 0 R /Resources << /XObject << /Im1 5 0 R >> >> >>"
            % (w, h),
            b"<< /Length 24 >>\nstream\nq 8 0 0 8 0 0 cm /Im1 Do Q\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream"
            % (w, h, len(payload), payload),
        ]
    )


# AC table of two 1-bit codes: '0' = EOB, '1' = 0x10 (run 1, size 0 —
# neither EOB nor ZRL, so it codes no value and is invalid)
_SIZE0_BITS = [2] + [0] * 15
_SIZE0_VALS = [0x00, 0x10]


def test_ac_symbol_of_size_zero_raises_jpeg_error():
    """An AC symbol with size 0 other than EOB/ZRL used to reach
    ``1 << (s - 1)`` and leak a ValueError; it is a typed refusal."""
    # '00' DC 0, '0' EOB, '1' padding -> decodes to a flat mid-gray block
    ok = _jpeg_with_ac_table(_SIZE0_BITS, _SIZE0_VALS, bytes([0b00011111]))
    assert np.array_equal(jpeg.decode_gray(ok), np.full((8, 8), 128, np.uint8))
    # '00' DC 0, '1' the size-0 symbol 0x10
    bad = _jpeg_with_ac_table(_SIZE0_BITS, _SIZE0_VALS, bytes([0b00111111]))
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_gray(bad)


def test_scanned_pdf_with_size_zero_ac_symbol_raises_pdferror():
    bad = _jpeg_with_ac_table(_SIZE0_BITS, _SIZE0_VALS, bytes([0b00111111]))
    with pytest.raises(pdf.PdfError):
        pdf.extract_page_images(_dct_pdf(bad, 8, 8))
    ok = _jpeg_with_ac_table(_SIZE0_BITS, _SIZE0_VALS, bytes([0b00011111]))
    [img] = pdf.extract_page_images(_dct_pdf(ok, 8, 8))
    assert img.shape == (8, 8)
