"""From-scratch JPEG codec (encode + decode), stdlib + numpy only —
baseline sequential AND progressive.

JPEG is the dominant image format on the web — a Common-Crawl-style media
table is mostly JFIF payloads — and the container has no imaging library,
which left operators/multimodal.py's real image branch PNG-only. Baseline
sequential JPEG (ITU-T T.81, a public spec) needs nothing beyond bit
twiddling and an 8x8 DCT, so this module implements it directly from the
spec: the Annex K quantization and Huffman tables, JFIF YCbCr color
conversion, zigzag run-length entropy coding, and a generic-sampling MCU
walk on decode.

Scope, chosen to decode what cameras and `libjpeg`-family encoders emit by
default and to refuse loudly otherwise:

- decode: baseline sequential DCT (SOF0/SOF1) AND progressive DCT (SOF2,
  T.81 Annex G: spectral selection, successive approximation with EOBn
  band runs and refinement correction bits), 8-bit, 1 or 3 components,
  any sampling factors (4:4:4 / 4:2:0 / 4:2:2 / 4:1:1 all fall out of the
  generic MCU loop), restart markers (DRI/RSTn) in either mode — scans
  decode into per-component coefficient buffers, reconstructed once at
  EOI. Arithmetic coding, lossless/hierarchical processes, 12-bit, and
  CMYK raise ``ValueError`` rather than mis-decoding.
- encode: baseline sequential (encode_jpeg) and progressive
  (encode_jpeg_progressive: interleaved DC-first scan at Al=1,
  per-component AC bands, then DC/AC refinement to Al=0), grayscale or
  RGB, 4:4:4 or 4:2:0, IJG-style quality scaling of the Annex K tables.
  A fully-refined progressive file decodes to EXACTLY the baseline
  encoder's pixels (same quantized coefficients) — the property the
  round-trip tests assert.

The encoder exists so the decoder is testable end-to-end in-container
(encode → decode → PSNR), and so synthetic media tables can carry real
JFIF payloads. Both directions are deterministic: same array in, same
bytes out.

Like media_codecs.py, these are CODECS, not a DataFrame API — the
multimodal operators call them inside Arrow-batched ``mapInPandas`` stages.
"""

from __future__ import annotations

import struct

import numpy as np

from pdf_parser_spark.media_codecs import format_boundary

# ---------------------------------------------------------------- tables
# ITU-T T.81 Annex K.1 — example quantization tables (row-major 8x8).
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# zigzag[i] = row-major index of the i-th coefficient in zigzag order
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(_ZIGZAG)

# Annex K.3 — typical Huffman tables: (bits[1..16] counts, symbol values)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C: coeffs = C @ block @ C.T."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    c[0, :] = 1.0 / np.sqrt(8)
    return c


_DCT = _dct_matrix()


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C canonical code generation."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[idx]] = (code, length)
            idx += 1
            code += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the inverse of _canonical_codes."""
    return {(l, c): sym for sym, (c, l) in _canonical_codes(bits, values).items()}


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling (libjpeg's jpeg_quality_scaling, public source)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    luma = np.clip((_QUANT_LUMA * scale + 50) // 100, 1, 255)
    chroma = np.clip((_QUANT_CHROMA * scale + 50) // 100, 1, 255)
    return luma, chroma


# ---------------------------------------------------------------- encode

class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self._nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            self.write(0x7F, 8 - self._nbits)  # pad with 1-bits

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn (T.81 F.1.2.3: pad, then marker)."""
        self.flush()
        self.out += bytes((0xFF, 0xD0 + (n & 7)))


def _magnitude(v: int) -> tuple[int, int]:
    """(category, extra-bits value) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    return cat, (v if v > 0 else v + (1 << cat) - 1)


def _encode_blocks(writer: _BitWriter, blocks: np.ndarray, dc_tbl, ac_tbl,
                   pred: int) -> int:
    """Huffman-encode zigzagged quantized blocks; returns the new DC predictor."""
    for blk in blocks:
        zz = blk[_ZIGZAG]
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        cat, extra = _magnitude(diff)
        code, length = dc_tbl[cat]
        writer.write(code, length)
        if cat:
            writer.write(extra, cat)
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        run = 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_tbl[0xF0]  # ZRL: 16 zeros
                writer.write(code, length)
                run -= 16
            cat, extra = _magnitude(v)
            code, length = ac_tbl[(run << 4) | cat]
            writer.write(code, length)
            writer.write(extra, cat)
            run = 0
        if last < 63:
            code, length = ac_tbl[0x00]  # EOB
            writer.write(code, length)
    return pred


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane -> (n, 8, 8) with edge replication to 8-multiples."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    return (plane.reshape(hh // 8, 8, ww // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _quantize(blocks: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    # the orthonormal 8-point DCT's a(0)=1/sqrt(8), a(k)=1/2 scaling IS
    # T.81 A.3.3's 1/4*C(u)*C(v) convention — no extra gain factor
    coeffs = np.einsum("ij,njk,lk->nil", _DCT, blocks - 128.0, _DCT)
    q = qtbl.reshape(8, 8).astype(np.float64)
    return np.round(coeffs / q).astype(np.int64).reshape(-1, 64)


def encode_jpeg(arr: np.ndarray, quality: int = 85, subsample: bool = True,
                restart_interval: int = 0) -> bytes:
    """Baseline JFIF bytes from an (H, W) gray or (H, W, {1,3}) uint8 array.

    subsample=True writes 4:2:0 chroma (the web default); False writes
    4:4:4. Grayscale input produces a single-component scan.
    restart_interval > 0 emits a DRI segment and RSTn markers every that
    many MCUs (what camera firmware writes for error resilience) — it
    exists mainly so the decoder's restart path is testable in-container.
    """
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3):
        raise ValueError(f"unsupported array shape for JPEG: {arr.shape}")
    h, w, ch = a.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    luma_q, chroma_q = _quality_tables(quality)

    if ch == 1:
        planes = [a[:, :, 0].astype(np.float64)]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            # pad to even, then 2x2 block-average (JFIF centered siting)
            def sub(p: np.ndarray) -> np.ndarray:
                hh, ww = p.shape
                p = np.pad(p, ((0, hh % 2), (0, ww % 2)), mode="edge")
                return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(
                    axis=(1, 3))
            planes = [y, sub(cb), sub(cr)]
        else:
            planes = [y, cb, cr]

    # ---- headers
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, tbl in ((0, luma_q),) + (((1, chroma_q),) if ch == 3 else ()):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(tbl[z]) for z in _ZIGZAG)
    # SOF0: sampling factors — luma 2x2 when subsampled, else all 1x1
    samp_y = 0x22 if (ch == 3 and subsample) else 0x11
    comps = [(1, samp_y, 0)] + ([(2, 0x11, 1), (3, 0x11, 1)] if ch == 3 else [])
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for cid, samp, qid in comps:
        out += bytes((cid, samp, qid))
    huff = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if ch == 3:
        huff += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc, (bits, values) in huff:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc)
        out += bytes(bits) + bytes(values)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for cid, _samp, _qid in comps:
        out += bytes((cid, 0x00 if cid == 1 else 0x11))
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    # ---- entropy-coded scan, interleaved in MCU order
    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)
    writer = _BitWriter()
    if ch == 1 or not subsample:
        qblocks = [_quantize(_to_blocks(p), luma_q if i == 0 else chroma_q)
                   for i, p in enumerate(planes)]
        n_mcus = len(qblocks[0])
        preds = [0] * len(planes)
        for m in range(n_mcus):
            if restart_interval and m and m % restart_interval == 0:
                writer.restart(m // restart_interval - 1)
                preds = [0] * len(planes)
            for i in range(len(planes)):
                dc, ac = (dc_l, ac_l) if i == 0 else (dc_c, ac_c)
                preds[i] = _encode_blocks(writer, qblocks[i][m:m + 1], dc, ac,
                                          preds[i])
    else:
        # 4:2:0 — each MCU is four Y blocks (2x2) then one Cb, one Cr
        yb = _to_blocks(planes[0])
        cbb = _quantize(_to_blocks(planes[1]), chroma_q)
        crb = _quantize(_to_blocks(planes[2]), chroma_q)
        yq = _quantize(yb, luma_q)
        mcux = (w + 15) // 16
        mcuy = (h + 15) // 16
        # _to_blocks padded Y to 8-multiples; repad its block GRID to even
        bx, by = (w + 7) // 8, (h + 7) // 8
        grid = np.arange(by * bx).reshape(by, bx)
        if by % 2 or bx % 2:
            grid = np.pad(grid, ((0, by % 2), (0, bx % 2)), mode="edge")
        preds = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                m = my * mcux + mx
                if restart_interval and m and m % restart_interval == 0:
                    writer.restart(m // restart_interval - 1)
                    preds = [0, 0, 0]
                for dy in (0, 1):
                    for dx in (0, 1):
                        blk = yq[grid[2 * my + dy, 2 * mx + dx]]
                        preds[0] = _encode_blocks(writer, blk[None, :], dc_l,
                                                  ac_l, preds[0])
                ci = my * ((bx + 1) // 2) + mx
                preds[1] = _encode_blocks(writer, cbb[ci:ci + 1], dc_c, ac_c,
                                          preds[1])
                preds[2] = _encode_blocks(writer, crb[ci:ci + 1], dc_c, ac_c,
                                          preds[2])
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decode

class _BitReader:
    """MSB-first bit reader over entropy-coded data; unstuffs 0xFF00."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def bit(self) -> int:
        if not self._nbits:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy data")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed
                else:
                    # a real marker mid-scan (EOI / RST handled by caller):
                    # treat as end of data — spec pads the tail with 1-bits
                    self.pos -= 1
                    return 1
            self._acc = byte
            self._nbits = 8
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int | None:
        """Drop partial byte; if positioned at a marker return its 2nd byte."""
        self._nbits = 0
        if (self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF
                and self.data[self.pos + 1] != 0x00):
            marker = self.data[self.pos + 1]
            self.pos += 2
            return marker
        return None


def _read_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `cat` extra bits to a signed coefficient."""
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _decode_dc(reader: _BitReader, dc_tbl, preds: dict, cid: int,
               block: np.ndarray, ah: int, al: int) -> None:
    """DC coefficient for one block: full/first scan (ah=0, value shifted
    into position al) or successive-approximation refinement (one raw bit
    at position al — two's-complement OR composes correctly for negatives,
    matching the arithmetic-shift DC point transform, T.81 G.1.2.1)."""
    if ah == 0:
        cat = _read_symbol(reader, dc_tbl)
        diff = _extend(reader.bits(cat), cat) if cat else 0
        preds[cid] += diff
        block[0] = preds[cid] << al
    else:
        if reader.bit():
            block[0] |= 1 << al


def _decode_ac_first(reader: _BitReader, ac_tbl, block: np.ndarray,
                     ss: int, se: int, al: int, state: dict) -> None:
    """AC spectral band, first pass (T.81 G.1.2.2): baseline-style RLE
    plus EOBn codes spanning 1..32767 blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _read_symbol(reader, ac_tbl)
        run, cat = rs >> 4, rs & 0xF
        if cat == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << run) - 1
            if run:
                state["eobrun"] += reader.bits(run)
            return
        k += run
        if k > se:
            raise ValueError("JPEG AC run past end of band")
        block[k] = _extend(reader.bits(cat), cat) << al
        k += 1


def _decode_ac_refine(reader: _BitReader, ac_tbl, block: np.ndarray,
                      ss: int, se: int, al: int, state: dict) -> None:
    """AC successive-approximation refinement (T.81 G.1.2.3): newly-nonzero
    coefficients arrive as ±1<<al; already-nonzero ones consume one
    correction bit each as the run scans past them."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _read_symbol(reader, ac_tbl)
            run, cat = rs >> 4, rs & 0xF
            newval = 0
            if cat == 0:
                if run != 15:
                    state["eobrun"] = 1 << run
                    if run:
                        state["eobrun"] += reader.bits(run)
                    break  # corrections for the rest of THIS block below
                # run == 15: ZRL — skip 16 zero-history coefficients
            else:
                if cat != 1:
                    raise ValueError("invalid refinement magnitude")
                newval = p1 if reader.bit() else m1
            while k <= se:
                if block[k] != 0:
                    if reader.bit() and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] >= 0 else m1
                else:
                    run -= 1
                    if run < 0:
                        break
                k += 1
            if newval and k <= se:
                block[k] = newval
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if block[k] != 0:
                if reader.bit() and (block[k] & p1) == 0:
                    block[k] += p1 if block[k] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _decode_full_block(reader: _BitReader, dc_tbl, ac_tbl, preds: dict,
                       cid: int, block: np.ndarray) -> None:
    """Baseline sequential block: DC diff + full AC band into the zigzag
    coefficient buffer (T.81 F.2.2)."""
    cat = _read_symbol(reader, dc_tbl)
    diff = _extend(reader.bits(cat), cat) if cat else 0
    preds[cid] += diff
    block[0] = preds[cid]
    k = 1
    while k < 64:
        rs = _read_symbol(reader, ac_tbl)
        run, cat = rs >> 4, rs & 0xF
        if cat == 0:
            if run == 15:
                k += 16
                continue
            break
        k += run
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        block[k] = _extend(reader.bits(cat), cat)
        k += 1


def _next_marker(data: bytes, pos: int) -> int:
    """Byte offset of the next real marker (not a stuff byte, not RSTn)."""
    i = pos
    while i + 1 < len(data):
        if data[i] == 0xFF and data[i + 1] != 0x00 and not (
                0xD0 <= data[i + 1] <= 0xD7):
            return i
        i += 1
    return len(data)


def _decode_scan(data: bytes, pos: int, frame: dict, scan: list,
                 ss: int, se: int, ah: int, al: int,
                 htables: dict, restart_interval: int,
                 coefs: dict, progressive: bool) -> int:
    """One entropy-coded scan into the coefficient buffers; returns the
    offset of the marker that follows the scan's entropy data.

    Interleaved scans (ns > 1) walk MCU order over the padded block grid;
    single-component scans walk the component's ACTUAL block grid in
    raster order with MCU = one block (T.81 A.2) — progressive AC scans
    are always of this shape, and a baseline file with one scan per
    component decodes through the same path.
    """
    if progressive:  # T.81 B.2.3 scan-header constraints
        if not (0 <= ss <= se <= 63) or (ss == 0 and se != 0):
            raise ValueError("malformed progressive scan header (Ss/Se)")
        if ss > 0 and len(scan) != 1:
            raise ValueError("progressive AC scans must be single-component")
        if ah and ah != al + 1:
            raise ValueError("successive approximation must refine one bit")
    by_id = {c["id"]: c for c in frame["comps"]}
    reader = _BitReader(data, pos)
    preds = {cid: 0 for cid, _t in scan}
    state = {"eobrun": 0}
    tsel = {cid: t for cid, t in scan}

    def tables(cid):
        dc = htables.get(tsel[cid] >> 4)
        ac = htables.get(0x10 | (tsel[cid] & 0xF))
        need_dc = ss == 0 and ah == 0
        need_ac = se > 0
        if (need_dc and dc is None) or (need_ac and ac is None):
            raise ValueError("JPEG scan references missing DHT table")
        return dc, ac

    def decode_one(cid, block):
        dc_tbl, ac_tbl = tables(cid)
        if not progressive:
            _decode_full_block(reader, dc_tbl, ac_tbl, preds, cid, block)
        elif ss == 0:
            _decode_dc(reader, dc_tbl, preds, cid, block, ah, al)
        elif ah == 0:
            _decode_ac_first(reader, ac_tbl, block, ss, se, al, state)
        else:
            _decode_ac_refine(reader, ac_tbl, block, ss, se, al, state)

    def restart(n_done):
        if restart_interval and n_done and n_done % restart_interval == 0:
            marker = reader.align_to_marker()
            if marker is None or not (0xD0 <= marker <= 0xD7):
                raise ValueError("expected JPEG restart marker")
            for cid in preds:
                preds[cid] = 0
            state["eobrun"] = 0

    if len(scan) > 1:  # interleaved MCUs
        n = 0
        for my in range(frame["mcuy"]):
            for mx in range(frame["mcux"]):
                restart(n)
                for cid, _t in scan:
                    c = by_id[cid]
                    for dy in range(c["v"]):
                        for dx in range(c["h"]):
                            decode_one(
                                cid, coefs[cid][my * c["v"] + dy,
                                                mx * c["h"] + dx])
                n += 1
    else:
        cid = scan[0][0]
        c = by_id[cid]
        n = 0
        for byy in range(c["bh"]):
            for bxx in range(c["bw"]):
                restart(n)
                decode_one(cid, coefs[cid][byy, bxx])
                n += 1
    return _next_marker(data, reader.pos)


@format_boundary("JPEG")
def decode_jpeg(data: bytes) -> np.ndarray:
    """(H, W, {1,3}) uint8 from JFIF/JPEG bytes — baseline sequential
    (SOF0/SOF1) AND progressive (SOF2, spectral selection + successive
    approximation, T.81 Annex G) with restart markers in either mode."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, dict[tuple[int, int], int]] = {}
    frame = None
    progressive = False
    restart_interval = 0
    coefs: dict[int, np.ndarray] = {}
    saw_scan = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:  # stray restart between scans
            pos += 2
            continue
        if pos + 4 > len(data):
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:  # DQT — may hold several tables
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0xF
                if prec != 0:
                    raise ValueError("16-bit quant tables not supported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = np.frombuffer(body[b + 1:b + 65], np.uint8)
                qtables[tid] = tbl
                b += 65
        elif marker == 0xC4:  # DHT — may hold several tables
            b = 0
            while b < len(body):
                tc = body[b]
                bits = list(body[b + 1:b + 17])
                n = sum(bits)
                values = list(body[b + 17:b + 17 + n])
                if len(bits) < 16 or len(values) < n:
                    raise ValueError("truncated JPEG DHT segment")
                htables[tc] = _decode_table(bits, values)
                b += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            progressive = marker == 0xC2
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for i in range(nc):
                cid, samp, qid = body[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF,
                              "q": qid})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            frame = {
                "h": h, "w": w, "comps": comps, "hmax": hmax, "vmax": vmax,
                "mcux": (w + 8 * hmax - 1) // (8 * hmax),
                "mcuy": (h + 8 * vmax - 1) // (8 * vmax),
            }
            for c in comps:
                # actual block dims (non-interleaved scans cover exactly
                # these, T.81 A.2.2) inside the MCU-padded buffer
                cw = (w * c["h"] + hmax - 1) // hmax
                chh = (h * c["v"] + vmax - 1) // vmax
                c["bw"] = (cw + 7) // 8
                c["bh"] = (chh + 7) // 8
                coefs[c["id"]] = np.zeros(
                    (frame["mcuy"] * c["v"], frame["mcux"] * c["h"], 64),
                    dtype=np.int64,
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (lossless/arithmetic/"
                "differential)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — decode the scan, then continue parsing
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _decode_scan(
                data, pos + 2 + seglen, frame, scan, ss, se, ah, al,
                htables, restart_interval, coefs, progressive,
            )
            saw_scan = True
            continue
        pos += 2 + seglen
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")

    # ---- reconstruction: dequantize + IDCT each component, vectorized
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    full = []
    for c in frame["comps"]:
        q = qtables.get(c["q"])
        if q is None:
            raise ValueError("JPEG frame references missing DQT table")
        buf = coefs[c["id"]]  # (bh_pad, bw_pad, 64) in zigzag order
        nat = (buf[:, :, _UNZIGZAG] * q).astype(np.float64)
        nby, nbx = nat.shape[:2]
        blocks = nat.reshape(nby, nbx, 8, 8)
        pix = np.einsum("ji,xyjk,kl->xyil", _DCT, blocks, _DCT) + 128.0
        plane = pix.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(
        np.uint8)


# ------------------------------------------------------- progressive encode

# Fixed AC Huffman table for PROGRESSIVE scans: the Annex K baseline AC
# tables carry no EOBn symbols (r > 0), which progressive band coding
# needs. 240 symbols — EOB0..EOB14 (r<<4, s=0), ZRL (0xF0), and
# (run 0..15, size 1..14) — all at code length 8: a valid canonical table
# (240 <= 255 keeps the all-ones code unused, T.81 C.2), deliberately
# simple over optimal; fixtures favor determinism over ratio.
_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 240, 0, 0, 0, 0, 0, 0, 0, 0],
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 15)],
)


def _emit_eobrun(writer: _BitWriter, ac_tbl, st: dict) -> None:
    """Flush a pending EOBn run plus its buffered correction bits."""
    n = st["eobrun"]
    if n:
        r = n.bit_length() - 1
        code, length = ac_tbl[r << 4]
        writer.write(code, length)
        if r:
            writer.write(n - (1 << r), r)
        st["eobrun"] = 0
    for b in st["bits"]:
        writer.write(b, 1)
    st["bits"] = []


def _enc_ac_first(writer: _BitWriter, ac_tbl, zz: np.ndarray,
                  ss: int, se: int, al: int, st: dict) -> None:
    """Encode one block's AC band, first pass (T.81 G.1.2.2). The AC point
    transform truncates magnitudes toward zero (|v| >> al, sign kept)."""
    tv = [0] * (se + 1)
    last = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        m = (abs(v) >> al)
        tv[k] = m if v >= 0 else -m
        if tv[k]:
            last = k
    if last == 0:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun(writer, ac_tbl, st)
        return
    _emit_eobrun(writer, ac_tbl, st)
    run = 0
    for k in range(ss, last + 1):
        v = tv[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tbl[0xF0]
            writer.write(code, length)
            run -= 16
        cat, extra = _magnitude(v)
        code, length = ac_tbl[(run << 4) | cat]
        writer.write(code, length)
        writer.write(extra, cat)
        run = 0
    if last < se:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun(writer, ac_tbl, st)


def _enc_ac_refine(writer: _BitWriter, ac_tbl, zz: np.ndarray,
                   ss: int, se: int, al: int, st: dict) -> None:
    """Encode one block's AC refinement pass (T.81 G.1.2.3, the jcphuff
    shape): newly-nonzero coefficients (|v|>>al == 1) get run codes + a
    sign bit; history coefficients (|v|>>al > 1) contribute one buffered
    correction bit, emitted after the next symbol (or with the EOB run)."""
    absv = [abs(int(zz[k])) >> al for k in range(se + 1)]
    eob = 0
    for k in range(ss, se + 1):
        if absv[k] == 1:
            eob = k
    run = 0
    pending: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            _emit_eobrun(writer, ac_tbl, st)
            code, length = ac_tbl[0xF0]
            writer.write(code, length)
            run -= 16
            for b in pending:
                writer.write(b, 1)
            pending = []
        if t > 1:  # history coefficient: correction bit only
            pending.append(t & 1)
            continue
        _emit_eobrun(writer, ac_tbl, st)
        code, length = ac_tbl[(run << 4) | 1]
        writer.write(code, length)
        writer.write(1 if int(zz[k]) >= 0 else 0, 1)
        for b in pending:
            writer.write(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        st["eobrun"] += 1
        st["bits"] += pending
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun(writer, ac_tbl, st)


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 85,
                            subsample: bool = True) -> bytes:
    """Progressive JFIF bytes (SOF2) with the common two-level scan
    script: interleaved DC first (Al=1) → per-component AC first
    (Ss=1..63, Al=1) → DC refinement → per-component AC refinement. Fully
    refined to Al=0, so decoding reproduces the baseline encoder's pixels
    EXACTLY (same quantized coefficients) — which is also how the
    progressive decode path is tested.
    """
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3):
        raise ValueError(f"unsupported array shape for JPEG: {arr.shape}")
    h, w, ch = a.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    luma_q, chroma_q = _quality_tables(quality)

    if ch == 1:
        planes = [a[:, :, 0].astype(np.float64)]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def sub(p: np.ndarray) -> np.ndarray:
                hh, ww = p.shape
                p = np.pad(p, ((0, hh % 2), (0, ww % 2)), mode="edge")
                return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(
                    axis=(1, 3))
            planes = [y, sub(cb), sub(cr)]
        else:
            planes = [y, cb, cr]

    # per-component zigzag coefficient grids on the MCU-padded layout
    sub3 = ch == 3 and subsample
    samps = [(2, 2), (1, 1), (1, 1)] if sub3 else [(1, 1)] * ch
    hmax = max(s[0] for s in samps[:ch])
    vmax = max(s[1] for s in samps[:ch])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    grids = []
    for i in range(ch):
        q = luma_q if i == 0 else chroma_q
        qb = _quantize(_to_blocks(planes[i]), q)  # (n, 64) natural order
        ph, pw = planes[i].shape
        by, bx = (ph + 7) // 8, (pw + 7) // 8
        zz = qb[:, _ZIGZAG].reshape(by, bx, 64)
        sx, sy = samps[i]
        pby, pbx = mcuy * sy, mcux * sx
        if pby > by or pbx > bx:  # edge-replicate to the padded MCU grid
            zz = np.pad(zz, ((0, pby - by), (0, pbx - bx), (0, 0)),
                        mode="edge")
        grids.append({"zz": zz, "bh": by, "bw": bx, "h": sx, "v": sy})

    # ---- headers (SOF2)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, tbl in ((0, luma_q),) + (((1, chroma_q),) if ch == 3 else ()):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(tbl[z]) for z in _ZIGZAG)
    samp_y = 0x22 if sub3 else 0x11
    comps = [(1, samp_y, 0)] + ([(2, 0x11, 1), (3, 0x11, 1)] if ch == 3 else [])
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for cid, samp, qid in comps:
        out += bytes((cid, samp, qid))
    huff = [(0x00, _DC_LUMA), (0x12, _AC_PROG)]
    if ch == 3:
        huff += [(0x01, _DC_CHROMA)]
    for tc, (bits, values) in huff:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc)
        out += bytes(bits) + bytes(values)

    dc_l = _canonical_codes(*_DC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_l = ac_c = _canonical_codes(*_AC_PROG)  # shared progressive AC table

    def sos(scan_comps, ss, se, ah, al):
        hdr = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scan_comps),
                                        len(scan_comps))
        for cid, t in scan_comps:
            hdr += bytes((cid, t))
        return hdr + bytes((ss, se, (ah << 4) | al))

    # scan 1: DC first, interleaved, Al=1 (arithmetic-shift point transform)
    out += sos([(c[0], 0x00 if c[0] == 1 else 0x11) for c in comps], 0, 0, 0, 1)
    writer = _BitWriter()
    preds = [0] * ch
    for my in range(mcuy):
        for mx in range(mcux):
            for i in range(ch):
                g = grids[i]
                dc = dc_l if i == 0 else dc_c
                for dy in range(g["v"]):
                    for dx in range(g["h"]):
                        v = int(g["zz"][my * g["v"] + dy,
                                        mx * g["h"] + dx][0]) >> 1
                        cat, extra = _magnitude(v - preds[i])
                        code, length = dc[cat]
                        writer.write(code, length)
                        if cat:
                            writer.write(extra, cat)
                        preds[i] = v
    writer.flush()
    out += writer.out

    # scans 2..: AC first per component, Al=1
    for i in range(ch):
        g = grids[i]
        ac = ac_l if i == 0 else ac_c
        out += sos([(comps[i][0], 0x02)], 1, 63, 0, 1)
        writer = _BitWriter()
        st = {"eobrun": 0, "bits": []}
        for byy in range(g["bh"]):
            for bxx in range(g["bw"]):
                _enc_ac_first(writer, ac, g["zz"][byy, bxx], 1, 63, 1, st)
        _emit_eobrun(writer, ac, st)
        writer.flush()
        out += writer.out

    # scan: DC refinement — one raw bit per block, interleaved, no Huffman
    out += sos([(c[0], 0x00) for c in comps], 0, 0, 1, 0)
    writer = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for i in range(ch):
                g = grids[i]
                for dy in range(g["v"]):
                    for dx in range(g["h"]):
                        writer.write(
                            int(g["zz"][my * g["v"] + dy,
                                        mx * g["h"] + dx][0]) & 1, 1)
    writer.flush()
    out += writer.out

    # scans: AC refinement per component, Ah=1 → Al=0
    for i in range(ch):
        g = grids[i]
        ac = ac_l if i == 0 else ac_c
        out += sos([(comps[i][0], 0x02)], 1, 63, 1, 0)
        writer = _BitWriter()
        st = {"eobrun": 0, "bits": []}
        for byy in range(g["bh"]):
            for bxx in range(g["bw"]):
                _enc_ac_refine(writer, ac, g["zz"][byy, bxx], 1, 63, 0, st)
        _emit_eobrun(writer, ac, st)
        writer.flush()
        out += writer.out

    out += b"\xff\xd9"
    return bytes(out)
