"""Test-only media writers: synthesize spec-valid JPEG (baseline and
progressive), MPEG audio and H.264 Annex-B streams so the tests can
round-trip them through the real parsers in
``b3_analytics_engine_spark.operators.multimodal``. No product code
path writes these formats (``encode_png`` stays in the product module:
a registered query renders its fixture with it)."""

from __future__ import annotations

import struct

from b3_analytics_engine_spark.operators.multimodal import (
    _H264_HIGH_PROFILES,
    _JPEG_ZZ,
    _MP3_BITRATES,
    _MP3_RATES,
    _jpeg_canonical_codes,
    _jpeg_dct_basis,
    _mp3_frame_geometry,
)


def _jpeg_build_planes(width, height, rgb, subsample, gray):
    """Shared writer front: RGB → JFIF YCbCr planes, optional 2×2
    chroma mean-downsample ('420') or luma-only (gray). Returns
    ``[(plane, pw, ph, hi, vi), ...]``."""
    npx = width * height
    yp = bytearray(npx)
    cbp = bytearray(npx)
    crp = bytearray(npx)
    for i in range(npx):
        r, g, b = rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
        Y = 0.299 * r + 0.587 * g + 0.114 * b
        Cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        Cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        yp[i] = max(0, min(255, int(round(Y))))
        cbp[i] = max(0, min(255, int(round(Cb))))
        crp[i] = max(0, min(255, int(round(Cr))))

    if gray:
        return [(yp, width, height, 1, 1)]
    if subsample == "420":
        cw, ch = -(-width // 2), -(-height // 2)
        cb2 = bytearray(cw * ch)
        cr2 = bytearray(cw * ch)
        for y in range(ch):
            for x in range(cw):
                acc_b = acc_r = n = 0
                for dy in range(2):
                    for dx in range(2):
                        sy, sx = 2 * y + dy, 2 * x + dx
                        if sy < height and sx < width:
                            acc_b += cbp[sy * width + sx]
                            acc_r += crp[sy * width + sx]
                            n += 1
                cb2[y * cw + x] = acc_b // n
                cr2[y * cw + x] = acc_r // n
        return [(yp, width, height, 2, 2), (cb2, cw, ch, 1, 1),
                (cr2, cw, ch, 1, 1)]
    return [(yp, width, height, 1, 1), (cbp, width, height, 1, 1),
            (crp, width, height, 1, 1)]


def _jpeg_block_at(plane, pw: int, ph: int, ox: int, oy: int) -> list[int]:
    """Edge-replicated 8x8 read (pads non-multiple-of-8 planes)."""
    blk = [0] * 64
    for yy in range(8):
        sy = min(oy + yy, ph - 1)
        for xx in range(8):
            sx = min(ox + xx, pw - 1)
            blk[yy * 8 + xx] = plane[sy * pw + sx]
    return blk


def _jpeg_fdct_quant(samples: list[int], q: int, prec: int = 8) -> list[int]:
    """FDCT one 8x8 block and quantize by the flat table ``q``;
    returns the 64 quantized coefficients in ZIGZAG order. At
    ``prec=12`` the 8-bit input samples are scaled to the 12-bit
    range (``<< 4``) and level-shifted by 2048 — the writer-side
    mirror of the decoder's 12-bit ``>> 4`` display mapping."""
    A = _jpeg_dct_basis()
    shift, level = prec - 8, 1 << (prec - 1)
    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        for x in range(8):
            s = 0.0
            for y in range(8):
                s += A[v][y] * ((samples[y * 8 + x] << shift) - level)
            tmp[v][x] = s
    for v in range(8):
        row = list(tmp[v])
        for u in range(8):
            s = 0.0
            for x in range(8):
                s += A[u][x] * row[x]
            tmp[v][u] = s
    nat = [int(round(tmp[v][u] / q)) for v in range(8) for u in range(8)]
    return [nat[_JPEG_ZZ[k]] for k in range(64)]


def encode_jpeg_baseline(
    width: int,
    height: int,
    rgb: bytes,
    q: int = 16,
    subsample: str = "444",
    gray: bool = False,
    restart_interval: int = 0,
    prec: int = 8,
) -> bytes:
    """REAL baseline-JPEG writer: stdlib-only, spec-valid output any
    external viewer opens. Flat quantization table (all entries
    ``q``) and writer-built canonical Huffman tables (single-length
    code sets whose all-ones word stays reserved, per Annex C) — both
    travel in the file, so no Annex-K transcription is needed.
    ``subsample='420'`` downsamples chroma 2x2 (mean) and emits the
    4-blocks-Y-per-MCU layout, exercising a decoder's multi-block MCU
    + upsampling path; ``'444'`` keeps full chroma; ``gray=True``
    writes a single-component scan (input still RGB, converted to
    luma); ``restart_interval=n`` emits DRI + RSTn markers every n
    MCUs. Used as the golden-file builder for the `_parse_jpeg`
    tests — decode∘encode error is bounded by the quantization step,
    which the tests assert."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    if not (1 <= q <= 255):
        raise ValueError("q must fit an 8-bit quant table")
    if prec not in (8, 12):
        raise ValueError("prec must be 8 or 12")
    planes = _jpeg_build_planes(width, height, rgb, subsample, gray)
    hmax = max(p[3] for p in planes)
    vmax = max(p[4] for p in planes)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))

    # writer Huffman tables (canonical; all-ones word unused):
    # 8-bit — DC: 12 categories at 4 bits; AC: 162 symbols at 8 bits.
    # 12-bit (T.81 §F.1.2) — DC categories reach 15, AC sizes 14:
    # 16 DC codes at 5 bits, 226 AC symbols still fit 8-bit codes.
    dc_cats = 12 if prec == 8 else 16
    ac_smax = 10 if prec == 8 else 14
    dc_bits = [0] * 16
    dc_bits[3 if prec == 8 else 4] = dc_cats
    dc_vals = list(range(dc_cats))
    ac_vals = sorted(
        [0x00, 0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, ac_smax + 1)]
    )
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)  # all AC codes at length 8
    dc_codes = {v: k for k, v in _jpeg_canonical_codes(dc_bits, dc_vals).items()}
    ac_codes = {v: k for k, v in _jpeg_canonical_codes(ac_bits, ac_vals).items()}

    out = bytearray()
    bitbuf, bitlen = 0, 0

    def put_bits(code: int, length: int) -> None:
        nonlocal bitbuf, bitlen
        bitbuf = (bitbuf << length) | (code & ((1 << length) - 1))
        bitlen += length
        while bitlen >= 8:
            byte = (bitbuf >> (bitlen - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # stuffing
            bitlen -= 8
        bitbuf &= (1 << bitlen) - 1

    def encode_block(samples: list[int], pred: int) -> int:
        zz = _jpeg_fdct_quant(samples, q, prec)
        diff = zz[0] - pred
        s = abs(diff).bit_length()
        if s >= dc_cats:
            raise ValueError("DC difference out of range")
        length, code = dc_codes[s]
        put_bits(code, length)
        if s:
            put_bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                length, code = ac_codes[0xF0]
                put_bits(code, length)
                run -= 16
            s = abs(v).bit_length()
            if s > ac_smax:
                raise ValueError("AC coefficient out of range")
            length, code = ac_codes[(run << 4) | s]
            put_bits(code, length)
            put_bits(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            length, code = ac_codes[0x00]  # EOB
            put_bits(code, length)
        return zz[0]

    block_at = _jpeg_block_at

    # ---- headers ----
    ncomp = len(planes)
    hdr = bytearray(b"\xff\xd8")  # SOI
    hdr += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)  # APP0, no thumbnail
    hdr += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([q] * 64)
    # 12-bit samples are extended sequential -> SOF1, never SOF0
    hdr += (b"\xff\xc0" if prec == 8 else b"\xff\xc1") + struct.pack(
        ">HBHHB", 8 + 3 * ncomp, prec, height, width, ncomp
    )
    for cid, (_, _, _, hi, vi) in zip(range(1, ncomp + 1), planes):
        hdr += bytes([cid, (hi << 4) | vi, 0])
    dht = bytearray()
    for tc, bits, vals in ((0, dc_bits, dc_vals), (1, ac_bits, ac_vals)):
        seg = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        dht += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    hdr += dht
    if restart_interval:
        hdr += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    hdr += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(1, ncomp + 1):
        hdr += bytes([cid, 0x00])  # Td=0, Ta=0 for all components
    hdr += b"\x00\x3f\x00"  # Ss=0, Se=63, AhAl=0

    preds = [0] * ncomp
    n_mcus = mcus_x * mcus_y
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            if bitlen:  # byte-align with 1-bits, then RSTn
                put_bits((1 << (8 - bitlen)) - 1, 8 - bitlen)
            out += bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) & 7)])
            preds = [0] * ncomp
        my, mx = divmod(mcu, mcus_x)
        for ci, (plane, pw, ph, hi, vi) in enumerate(planes):
            for by in range(vi):
                for bx in range(hi):
                    blk = block_at(
                        plane, pw, ph,
                        (mx * hi + bx) * 8, (my * vi + by) * 8,
                    )
                    preds[ci] = encode_block(blk, preds[ci])
    if bitlen:
        put_bits((1 << (8 - bitlen)) - 1, 8 - bitlen)  # pad with 1s
    return bytes(hdr) + bytes(out) + b"\xff\xd9"


def encode_jpeg_progressive(
    width: int,
    height: int,
    rgb: bytes,
    q: int = 16,
    subsample: str = "444",
    gray: bool = False,
    restart_interval: int = 0,
    prec: int = 8,
) -> bytes:
    """REAL progressive-JPEG (SOF2) writer: stdlib-only, spec-valid,
    using the standard simple progression script (DC first at Al=1 →
    per-component AC bands 1-5 / 6-63 at Al=2 → DC refine → two
    AC refinement sweeps 2→1→0). Exercises every scan type the
    progressive decoder implements: interleaved DC, spectral-band AC
    with EOB runs (capped at 15 so each run is one EOBn symbol),
    successive-approximation refinement with buffered correction
    bits, and optional restart markers in every scan. Same flat-q
    quantization and canonical writer tables as the baseline writer
    (AC table additionally carries EOB1..EOB3), so a progressive
    encode decodes to BYTE-IDENTICAL pixels as the baseline encode of
    the same input — the golden-file property the tests pin.
    """
    import struct

    if rgb is None or len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    if not (1 <= q <= 255):
        raise ValueError("q must fit an 8-bit quant table")
    if prec not in (8, 12):
        raise ValueError("prec must be 8 or 12")
    planes = _jpeg_build_planes(width, height, rgb, subsample, gray)
    ncomp = len(planes)
    hmax = max(p[3] for p in planes)
    vmax = max(p[4] for p in planes)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))

    # quantized coefficient blocks over each comp's PADDED grid
    # (zigzag order, shared FDCT with the baseline writer)
    grids = []  # (blocks, bwp, bws, bhs, hi, vi)
    for plane, pw, ph, hi, vi in planes:
        bwp, bhp = mcus_x * hi, mcus_y * vi
        blocks = [
            _jpeg_fdct_quant(
                _jpeg_block_at(plane, pw, ph, bx * 8, by * 8), q, prec
            )
            for by in range(bhp)
            for bx in range(bwp)
        ]
        grids.append(
            (blocks, bwp, -(-pw // 8), -(-ph // 8), hi, vi)
        )

    # writer Huffman tables: DC as baseline (16 categories at 12-bit
    # precision, T.81 §F.1.2); AC additionally carries EOB1..EOB3
    # (0x10/0x20/0x30) for the capped EOB runs
    dc_cats = 12 if prec == 8 else 16
    ac_smax = 10 if prec == 8 else 14
    dc_bits = [0] * 16
    dc_bits[3 if prec == 8 else 4] = dc_cats
    dc_vals = list(range(dc_cats))
    ac_vals = sorted(
        [0x00, 0x10, 0x20, 0x30, 0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, ac_smax + 1)]
    )
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)
    dc_codes = {v: k for k, v in _jpeg_canonical_codes(dc_bits, dc_vals).items()}
    ac_codes = {v: k for k, v in _jpeg_canonical_codes(ac_bits, ac_vals).items()}

    out = bytearray()
    bitbuf, bitlen = 0, 0

    def put_bits(code: int, length: int) -> None:
        nonlocal bitbuf, bitlen
        bitbuf = (bitbuf << length) | (code & ((1 << length) - 1))
        bitlen += length
        while bitlen >= 8:
            byte = (bitbuf >> (bitlen - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            bitlen -= 8
        bitbuf &= (1 << bitlen) - 1

    def put_sym(codes, sym: int) -> None:
        length, code = codes[sym]
        put_bits(code, length)

    def align_restart(n_restart: int) -> None:
        nonlocal bitlen
        if bitlen:
            put_bits((1 << (8 - bitlen)) - 1, 8 - bitlen)
        out.extend(bytes([0xFF, 0xD0 + ((n_restart - 1) & 7)]))

    def flush_pad() -> None:
        nonlocal bitlen
        if bitlen:
            put_bits((1 << (8 - bitlen)) - 1, 8 - bitlen)

    # ---- scan emitters ----
    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int):
        out.extend(b"\xff\xda")
        out.extend(struct.pack(">HB", 6 + 2 * len(comp_ids), len(comp_ids)))
        for cid in comp_ids:
            out.extend(bytes([cid, 0x00]))  # Td=0, Ta=0
        out.extend(bytes([ss, se, (ah << 4) | al]))

    def dc_scan(ah: int, al: int) -> None:
        sos_header(list(range(1, ncomp + 1)), 0, 0, ah, al)
        preds = [0] * ncomp
        n_mcus = mcus_x * mcus_y
        for mcu in range(n_mcus):
            if restart_interval and mcu and mcu % restart_interval == 0:
                align_restart(mcu // restart_interval)
                preds = [0] * ncomp
            my, mx = divmod(mcu, mcus_x)
            for ci, (blocks, bwp, _, _, hi, vi) in enumerate(grids):
                for by in range(vi):
                    for bx in range(hi):
                        zz0 = blocks[
                            (my * vi + by) * bwp + mx * hi + bx
                        ][0]
                        if ah == 0:
                            v = zz0 >> al
                            diff = v - preds[ci]
                            preds[ci] = v
                            s = abs(diff).bit_length()
                            if s >= dc_cats:
                                raise ValueError("DC difference out of range")
                            put_sym(dc_codes, s)
                            if s:
                                put_bits(
                                    diff if diff >= 0 else diff + (1 << s) - 1,
                                    s,
                                )
                        else:
                            put_bits((zz0 >> al) & 1, 1)
        flush_pad()

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> None:
        blocks, bwp, bws, bhs, _, _ = grids[ci]
        sos_header([ci + 1], ss, se, 0, al)
        eobrun = 0

        def emit_eobrun() -> None:
            nonlocal eobrun
            while eobrun > 0:
                chunk = min(eobrun, 15)
                r = chunk.bit_length() - 1
                put_sym(ac_codes, r << 4)
                if r:
                    put_bits(chunk - (1 << r), r)
                eobrun -= chunk

        n_blocks = bws * bhs
        for b in range(n_blocks):
            if restart_interval and b and b % restart_interval == 0:
                emit_eobrun()
                align_restart(b // restart_interval)
            by, bx = divmod(b, bws)
            zz = blocks[by * bwp + bx]
            r = 0
            for k in range(ss, se + 1):
                t = abs(zz[k]) >> al
                if t == 0:
                    r += 1
                    continue
                emit_eobrun()
                while r > 15:
                    put_sym(ac_codes, 0xF0)
                    r -= 16
                s = t.bit_length()
                if s > ac_smax:
                    raise ValueError("AC coefficient out of range")
                put_sym(ac_codes, (r << 4) | s)
                v = t if zz[k] > 0 else -t
                put_bits(v if v >= 0 else v + (1 << s) - 1, s)
                r = 0
            if r:
                eobrun += 1
                if eobrun == 15:
                    emit_eobrun()
        emit_eobrun()
        flush_pad()

    def ac_refine_scan(ci: int, ss: int, se: int, ah: int, al: int) -> None:
        blocks, bwp, bws, bhs, _, _ = grids[ci]
        sos_header([ci + 1], ss, se, ah, al)
        eobrun = 0
        be_bits: list[int] = []  # correction bits of blocks inside eobrun

        def emit_eobrun() -> None:
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1  # eobrun <= 15: one symbol
                put_sym(ac_codes, r << 4)
                if r:
                    put_bits(eobrun - (1 << r), r)
                eobrun = 0
                for bit in be_bits:
                    put_bits(bit, 1)
                be_bits.clear()

        n_blocks = bws * bhs
        for b in range(n_blocks):
            if restart_interval and b and b % restart_interval == 0:
                emit_eobrun()
                align_restart(b // restart_interval)
            by, bx = divmod(b, bws)
            zz = blocks[by * bwp + bx]
            absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
            eob_idx = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob_idx = i
            r = 0
            br: list[int] = []  # current block's buffered corrections
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_idx:
                    emit_eobrun()
                    put_sym(ac_codes, 0xF0)
                    r -= 16
                    for bit in br:
                        put_bits(bit, 1)
                    br.clear()
                if t > 1:
                    br.append(t & 1)
                    continue
                emit_eobrun()
                put_sym(ac_codes, (r << 4) | 1)
                put_bits(0 if zz[ss + i] < 0 else 1, 1)
                for bit in br:
                    put_bits(bit, 1)
                br.clear()
                r = 0
            if r > 0 or br:
                eobrun += 1
                be_bits.extend(br)
                if eobrun == 15:
                    emit_eobrun()
        emit_eobrun()
        flush_pad()

    # ---- headers ----
    hdr = bytearray(b"\xff\xd8")
    hdr += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    hdr += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([q] * 64)
    hdr += b"\xff\xc2" + struct.pack(
        ">HBHHB", 8 + 3 * ncomp, prec, height, width, ncomp
    )
    for cid, (_, _, _, hi, vi) in zip(range(1, ncomp + 1), planes):
        hdr += bytes([cid, (hi << 4) | vi, 0])
    for tc, bits, vals in ((0, dc_bits, dc_vals), (1, ac_bits, ac_vals)):
        seg = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        hdr += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        hdr += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out = bytearray()  # reset entropy buffer; scans append SOS + data
    body = out

    # ---- simple progression script (the libjpeg-standard shape) ----
    dc_scan(0, 1)  # DC first, Al=1
    for ci in range(ncomp):
        ac_first_scan(ci, 1, 5, 2)
    for ci in range(ncomp):
        ac_first_scan(ci, 6, 63, 2)
    dc_scan(1, 0)  # DC refine
    for ci in range(ncomp):
        ac_refine_scan(ci, 1, 63, 2, 1)
    for ci in range(ncomp):
        ac_refine_scan(ci, 1, 63, 1, 0)

    return bytes(hdr) + bytes(body) + b"\xff\xd9"


def encode_mp3_stream(
    bitrates_kbps: list[int],
    sample_rate: int = 44100,
    version: str = "1",
    layer: int = 3,
    channels: int = 2,
    id3v2_bytes: int = 0,
    id3v1: bool = False,
    padding: int = 0,
) -> bytes:
    """Synthesize a header-valid MPEG audio stream, one frame per
    entry of ``bitrates_kbps`` — the golden-test twin of
    :func:`_parse_mp3_info`. Header fields, frame geometry, and tag
    framing are spec-exact; frame BODIES are deterministic filler
    (the walker never reads them — documented scope: header-level
    metadata, not audio synthesis)."""
    if version not in _MP3_RATES:
        raise ValueError(f"unknown MPEG version {version!r}")
    vgroup = "1" if version == "1" else "2"
    sr_idx = _MP3_RATES[version].index(sample_rate)
    vbits = {"1": 3, "2": 2, "2.5": 0}[version]
    out = bytearray()
    if id3v2_bytes:
        if id3v2_bytes >= 1 << 28:
            raise ValueError("ID3v2 body too large for syncsafe size")
        out += b"ID3\x04\x00\x00"
        out += bytes(
            (id3v2_bytes >> s) & 0x7F for s in (21, 14, 7, 0)
        )
        out += bytes((i * 37) & 0xFF for i in range(id3v2_bytes))
    for fi, br_kbps in enumerate(bitrates_kbps):
        br_idx = _MP3_BITRATES[(vgroup, layer)].index(br_kbps) + 1
        hdr = (
            (0x7FF << 21) | (vbits << 19) | ((4 - layer) << 17)
            | (1 << 16)  # no CRC
            | (br_idx << 12) | (sr_idx << 10) | (padding << 9)
            | ((3 if channels == 1 else 0) << 6)
        )
        frame_bytes, _spf = _mp3_frame_geometry(
            version, layer, br_kbps, sample_rate, padding
        )
        out += hdr.to_bytes(4, "big")
        out += bytes(((fi * 251 + i * 13) & 0xFF) for i in range(frame_bytes - 4))
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        for s in range(n - 1, -1, -1):
            self.bits.append((val >> s) & 1)

    def ue(self, v: int) -> None:
        v += 1
        n = v.bit_length()
        self.u(0, n - 1)
        self.u(v, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def rbsp_bytes(self) -> bytes:
        """rbsp_stop_one_bit + alignment, then emulation prevention."""
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        raw = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            raw.append(b)
        out = bytearray()
        zeros = 0
        for b in raw:
            if zeros >= 2 and b <= 3:
                out.append(3)
                zeros = 0
            out.append(b)
            zeros = zeros + 1 if b == 0 else 0
        return bytes(out)


def encode_h264_annexb(
    width: int,
    height: int,
    profile_idc: int = 66,
    level_idc: int = 30,
    fps: float | None = None,
    n_idr: int = 1,
    n_non_idr: int = 0,
    four_byte_start: bool = True,
) -> bytes:
    """Synthesize a structurally valid Annex-B stream: a spec-exact
    SPS (exp-Golomb encoded, cropping derived from the requested
    dimensions, VUI timing when ``fps`` given, emulation-prevention
    bytes inserted), a minimal PPS, and ``n_idr + n_non_idr`` slice
    NALs with deterministic filler bodies (slice payloads are never
    parsed — same honest writer scope as :func:`encode_mp3_stream`).
    Dimensions must be even (4:2:0 crop units are 2×2)."""
    if width % 2 or height % 2 or width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive and even (4:2:0)")
    mw, mh = (width + 15) // 16, (height + 15) // 16
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint flags + reserved zero bits
    w.u(level_idc, 8)
    w.ue(0)  # sps id
    if profile_idc in _H264_HIGH_PROFILES:
        w.ue(1)  # chroma_format_idc 4:2:0
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(0, 1)  # qpprime bypass
        w.u(0, 1)  # no scaling matrix
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # pic_order_cnt_type
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num
    w.ue(mw - 1)
    w.ue(mh - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    crop_r = (mw * 16 - width) // 2
    crop_b = (mh * 16 - height) // 2
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    if fps is not None:
        w.u(1, 1)  # vui_parameters_present
        w.u(0, 4)  # aspect/overscan/signal-type/chroma-loc absent
        w.u(1, 1)  # timing_info_present
        w.u(1000, 32)  # num_units_in_tick
        w.u(round(fps * 2000), 32)  # time_scale (frame = 2 ticks)
        w.u(1, 1)  # fixed_frame_rate
        w.u(0, 4)  # nal_hrd/vcl_hrd/pic_struct/bitstream_restriction
    else:
        w.u(0, 1)
    start = b"\x00\x00\x00\x01" if four_byte_start else b"\x00\x00\x01"
    out = bytearray()
    out += start + bytes([0x67]) + w.rbsp_bytes()  # SPS (ref_idc 3)
    pps = _BitWriter()
    pps.ue(0)  # pps id
    pps.ue(0)  # sps id
    pps.u(0, 2)  # entropy_coding_mode, pic_order_present
    pps.ue(0)  # num_slice_groups_minus1
    pps.ue(0)
    pps.ue(0)  # num_ref_idx_active l0/l1
    pps.u(0, 3)  # weighted_pred, weighted_bipred_idc
    pps.se(0)
    pps.se(0)
    pps.se(0)  # init qp/qs, chroma_qp_offset
    pps.u(0, 3)  # dbf_control, constrained_intra, redundant_pic
    out += start + bytes([0x68]) + pps.rbsp_bytes()  # PPS
    for i in range(n_idr):
        out += start + bytes([0x65]) + bytes(
            ((i * 73 + j * 31 + 1) % 255) + 1 for j in range(24)
        )
    for i in range(n_non_idr):
        out += start + bytes([0x41]) + bytes(
            ((i * 89 + j * 57 + 1) % 255) + 1 for j in range(16)
        )
    return bytes(out)
