"""Bit-serial reference decoder for ocr/jpeg.py — a test oracle.

This is the decoder ocr/jpeg.py shipped before its entropy decode was
vectorized: a per-0xFF ``_unstuff`` loop, 65536-entry Python-list
Huffman LUTs, an integer bit accumulator walked one symbol at a time,
and the 4-operand ``einsum`` IDCT. The only change is that an AC
symbol of size 0 other than EOB/ZRL raises ``JpegError`` (it used to
reach ``1 << -1`` and leak a ``ValueError``). Header parsing is shared
with the production decoder (``jpeg._parse``); everything after it is
independent, so tests can pin the production decoder against it.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from pero_ocr_api_spark.ocr.jpeg import _C, _ZIGZAG, JpegError, _canonical_codes, _parse


def _unstuff(data: bytes) -> bytes:
    buf = np.frombuffer(data, dtype=np.uint8)
    ff = np.flatnonzero(buf == 0xFF)
    end = len(buf)
    run_start = -1  # start of a pending 0xFF fill run
    prev_ff = -2
    for i in ff:
        if i + 1 >= len(buf):
            raise JpegError("entropy stream truncated at 0xFF")
        nxt = buf[i + 1]
        in_run = run_start >= 0 and i == prev_ff + 1
        if nxt == 0xFF:
            if not in_run:
                run_start = int(i)
            prev_ff = int(i)
            continue
        if nxt == 0x00:
            if in_run:
                raise JpegError("0xFF fill bytes before non-marker data")
            run_start = -1
            continue
        if nxt == 0xD9:  # EOI; exclude any preceding fill run
            end = run_start if in_run else int(i)
            break
        if 0xD0 <= nxt <= 0xD7:
            raise JpegError("restart markers (DRI/RSTn) outside subset")
        raise JpegError("unexpected marker inside entropy data")
    return data[:end].replace(b"\xff\x00", b"\xff")


@lru_cache(maxsize=32)
def _lookup16(table_bits: tuple, table_vals: tuple):
    syms = [-1] * 65536
    lens = [0] * 65536
    for sym, (code, length) in _canonical_codes(table_bits, table_vals).items():
        base = code << (16 - length)
        for i in range(1 << (16 - length)):
            syms[base + i] = sym
            lens[base + i] = length
    return syms, lens


def decode_coefficients(data: bytes):
    """-> (dequantized coefficients (bh*bw, 64) in natural order, bh, bw,
    h, w)."""
    data = bytes(data)
    h, w, quant, dc_huff, ac_huff, scan_start = _parse(data)
    dc_syms, dc_lens = _lookup16(*dc_huff)
    ac_syms, ac_lens = _lookup16(*ac_huff)
    bh, bw = -(-h // 8), -(-w // 8)
    ent = _unstuff(data[scan_start:])
    nbytes = len(ent)
    total_bits = nbytes * 8
    acc = 0
    have = 0
    ptr = 0
    pos = 0
    idxs: list[int] = []
    vals: list[int] = []
    prev_dc = 0
    for base in range(0, bh * bw * 64, 64):
        # --- DC symbol
        while have < 16 and ptr < nbytes:
            acc = (acc << 8) | ent[ptr]
            ptr += 1
            have += 8
        w16 = (
            (acc >> (have - 16)) & 0xFFFF
            if have >= 16
            else (acc << (16 - have)) & 0xFFFF
        )
        s = dc_syms[w16]
        if s < 0 or s > 11:
            raise JpegError("invalid DC Huffman code")
        length = dc_lens[w16]
        if pos + length + s > total_bits:
            raise JpegError("entropy stream truncated")
        have -= length
        pos += length
        if s:
            while have < s:
                acc = (acc << 8) | ent[ptr]
                ptr += 1
                have += 8
            bits = (acc >> (have - s)) & ((1 << s) - 1)
            prev_dc += bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
            have -= s
            pos += s
        acc &= (1 << have) - 1
        idxs.append(base)
        vals.append(prev_dc)
        # --- AC symbols
        k = 1
        while k < 64:
            while have < 16 and ptr < nbytes:
                acc = (acc << 8) | ent[ptr]
                ptr += 1
                have += 8
            w16 = (
                (acc >> (have - 16)) & 0xFFFF
                if have >= 16
                else (acc << (16 - have)) & 0xFFFF
            )
            rs = ac_syms[w16]
            if rs < 0:
                raise JpegError("invalid AC Huffman code")
            length = ac_lens[w16]
            s = rs & 0x0F
            if pos + length + s > total_bits:
                raise JpegError("entropy stream truncated")
            have -= length
            pos += length
            if rs == 0x00:  # EOB
                acc &= (1 << have) - 1
                break
            if rs == 0xF0:  # ZRL
                acc &= (1 << have) - 1
                k += 16
                continue
            if s == 0:
                raise JpegError("AC symbol of size 0 is not EOB/ZRL")
            k += rs >> 4
            if k > 63:
                raise JpegError("AC run past block end")
            while have < s:
                acc = (acc << 8) | ent[ptr]
                ptr += 1
                have += 8
            bits = (acc >> (have - s)) & ((1 << s) - 1)
            idxs.append(base + k)
            vals.append(bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1)
            have -= s
            pos += s
            acc &= (1 << have) - 1
            k += 1
    zz_all = np.zeros(bh * bw * 64, dtype=np.int64)
    if idxs:
        zz_all[np.array(idxs, dtype=np.int64)] = np.array(vals, dtype=np.int64)
    zz_all = zz_all.reshape(bh * bw, 64)
    blocks = np.zeros((bh * bw, 64), dtype=np.float64)
    blocks[:, _ZIGZAG] = zz_all
    qtab = quant[np.argsort(_ZIGZAG)].astype(np.float64)
    return blocks * qtab, bh, bw, h, w


def unrounded_pixels(coefs: np.ndarray, bh: int, bw: int, h: int, w: int) -> np.ndarray:
    """The 4-operand einsum IDCT of ``decode_coefficients``' output,
    level-shifted and cropped, before rounding and clipping."""
    pix = np.einsum("ji,abjk,kl->abil", _C, coefs.reshape(bh, bw, 8, 8), _C)
    img = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
    return img[:h, :w]


def pixels(coefs: np.ndarray, bh: int, bw: int, h: int, w: int) -> np.ndarray:
    return np.clip(np.round(unrounded_pixels(coefs, bh, bw, h, w)), 0, 255).astype(np.uint8)


def decode_gray(data: bytes) -> np.ndarray:
    return pixels(*decode_coefficients(data))
