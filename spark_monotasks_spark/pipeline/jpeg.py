"""Baseline JPEG codec in pure numpy — no libjpeg/PIL.

Implements the minimum-but-real baseline profile: 8-bit, 4:4:4 (no
chroma subsampling), standard Annex-K quantization and Huffman tables,
sequential DCT, JFIF container.  The encoder exists to produce honest
fixtures; the decoder (`decode_jpeg_pixels`) is the production-shaped
piece — it parses DQT/DHT/SOF0/SOS, entropy-decodes the scan
(Huffman + DC prediction + AC run-length), dequantizes, inverse-zigzags,
applies the 2-D IDCT, and converts YCbCr→RGB.

Both halves work on all blocks of an image at once.  The encoder takes
the DCT of every block in one batched matmul, quantizes and zigzags them
together, and builds the entropy-coded scan from the nonzero
coefficients alone: each Huffman symbol with its amplitude bits becomes
one (code, length) pair, and the pairs are expanded to bits and packed
in numpy.  The decoder unstuffs the scan once and decodes each Huffman
symbol with one lookup of the next 16 bits in a table that gives the
symbol and its code length; it builds each table once per process and
(bits, values) spec.  Dequantization, the IDCT and the colour transform
then run over all blocks in one batched pass.  Both produce the same
bytes and pixels as a per-block codec (the batched matmuls keep the
per-block operand order and layout; see `encode_jpeg_pixels`).

Scope guards (return None, never raise): progressive (SOF2), subsampled,
arithmetic-coded, or >3-component streams.  Lossiness is the format's,
not ours: roundtrip error is bounded by the quantization table (tests
assert mean-abs-error, and DC/means survive almost exactly).
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# --- Annex K tables (public JPEG standard) ---------------------------------

_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)


def _scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


#: zigzag order: index i of this array = position in the 8x8 block
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# standard Huffman tables (Annex K.3): (bits-per-length 1..16, values)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _canonical_codes(bits, values):
    """(symbol, code, length) of each code of a (bits, values) spec, in
    the canonical order of the standard (Annex C)."""
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            yield values[k], code, length
            code += 1
            k += 1
        code <<= 1


def _huff_encode_table(bits, values) -> tuple[np.ndarray, np.ndarray]:
    """(code, length) arrays indexed by symbol 0..255 from a (bits,
    values) spec; length 0 marks a symbol the table cannot code."""
    codes = np.zeros(256, dtype=np.int64)
    lengths = np.zeros(256, dtype=np.int64)
    for sym, code, length in _canonical_codes(bits, values):
        codes[sym] = code
        lengths[sym] = length
    return codes, lengths


@functools.lru_cache(maxsize=64)
def _huff_lookup(bits: bytes, values: bytes) -> tuple[bytes, bytes]:
    """Decoder table for a (bits, values) spec, as (symbols, lengths):
    the next 16 bits of the scan, read as an index, give the symbol and
    its code length; length 0 means that no code starts with those bits.
    Canonical codes are prefix-free, so their index ranges are disjoint;
    a code that overflows its length never matches."""
    symbols = np.zeros(1 << 16, dtype=np.uint8)
    lengths = np.zeros(1 << 16, dtype=np.uint8)
    for sym, code, n in _canonical_codes(bits, values):
        if code < 1 << n:
            lo, hi = code << (16 - n), (code + 1) << (16 - n)
            symbols[lo:hi] = sym
            lengths[lo:hi] = n
    return symbols.tobytes(), lengths.tobytes()


_DCT = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = np.sqrt(0.125) if _u == 0 else 0.5
        _DCT[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)

#: encoder tables, (2, 256) each: row 0 luma, row 1 chroma
_DC_CODES, _DC_LENS = map(np.stack, zip(
    _huff_encode_table(*_DC_LUMA), _huff_encode_table(*_DC_CHROMA)))
_AC_CODES, _AC_LENS = map(np.stack, zip(
    _huff_encode_table(*_AC_LUMA), _huff_encode_table(*_AC_CHROMA)))
#: r ZRL codes (16 zeros each) back to back for r = 0..3, (2, 4) each:
#: the run of zeros before a nonzero AC coefficient is at most 62
_ZRL_LENS = _AC_LENS[:, 0xF0, None] * np.arange(4)
_ZRL_CODES = np.array([
    [sum(int(c) << (int(n) * i) for i in range(r)) for r in range(4)]
    for c, n in zip(_AC_CODES[:, 0xF0], _AC_LENS[:, 0xF0])
], dtype=np.int64)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _magnitude(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """JPEG magnitude coding: values → (sizes, amplitude bits)."""
    size = np.frexp(np.abs(v))[1].astype(np.int64)  # bit length; 0 for 0
    amp = np.where(v < 0, v + (np.int64(1) << size) - 1, v)
    return size, amp


def _entropy_encode(zz: np.ndarray) -> bytes:
    """Scan bytes for (n, 64) zigzag-ordered quantized coefficients, one
    row per block and component in scan order (Y, Cb, Cr per block)."""
    n = len(zz)
    tab = np.tile([0, 1, 1], n // 3)  # luma or chroma tables per row
    # DC: the difference to the previous block of the same component
    size, amp = _magnitude(
        np.diff(zz[:, 0].reshape(-1, 3), axis=0, prepend=0).ravel())
    dc_len = _DC_LENS[tab, size]
    dc = ((_DC_CODES[tab, size] << size) | amp, dc_len + size)
    # AC: per nonzero coefficient, its ZRLs and run/size symbol, then
    # its amplitude bits, as one item
    row, k = np.nonzero(zz[:, 1:])
    k += 1
    first = np.concatenate([[True], row[1:] != row[:-1]])
    run = k - 1 - np.where(first, 0, np.roll(k, 1))
    size, amp = _magnitude(zz[row, k])
    t = tab[row]
    rs = ((run & 15) << 4) | size
    sym_len = _AC_LENS[t, rs]
    if not (dc_len.all() and sym_len.all()):
        raise ValueError("coefficient outside the baseline Huffman tables")
    zrl = run >> 4
    ac = (
        (((_ZRL_CODES[t, zrl] << sym_len) | _AC_CODES[t, rs]) << size) | amp,
        _ZRL_LENS[t, zrl] + sym_len + size,
    )
    # EOB unless the last (63rd) coefficient is nonzero
    eob = np.flatnonzero(zz[:, 63] == 0)
    end = (_AC_CODES[tab[eob], 0x00], _AC_LENS[tab[eob], 0x00])
    # each row's DC item, then its AC items in order, then its EOB
    order = np.argsort(np.concatenate(
        [np.arange(n) * 65, row * 65 + k, eob * 65 + 64]))
    codes, lengths = (np.concatenate(p)[order] for p in zip(dc, ac, end))
    return _pack_bits(codes, lengths)


def _pack_bits(codes: np.ndarray, lengths: np.ndarray) -> bytes:
    """Concatenate (code, length) pairs MSB first, pad the last byte with
    1s and stuff a 0x00 after every 0xFF byte."""
    total = int(lengths.sum())
    item = np.repeat(np.arange(len(lengths)), lengths)
    shift = np.cumsum(lengths)[item] - 1 - np.arange(total)
    bits = ((codes[item] >> shift) & 1).astype(np.uint8)
    bits = np.concatenate([bits, np.ones(-total % 8, dtype=np.uint8)])
    return np.packbits(bits).tobytes().replace(b"\xff", b"\xff\x00")


def encode_jpeg_pixels(
    rgb: np.ndarray, quality: int = 90
) -> bytes:
    """Encode an (h, w, 3) uint8 array as a baseline 4:4:4 JFIF JPEG."""
    h, w, _ = rgb.shape
    qy = _scale_quant(_QUANT_LUMA, quality)
    qc = _scale_quant(_QUANT_CHROMA, quality)

    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    padded = np.empty((ph, pw, 3), dtype=np.float64)
    padded[:h, :w] = rgb.astype(np.float64)
    padded[h:, :w] = padded[h - 1: h, :w]  # edge-replicate pad
    padded[:, w:] = padded[:, w - 1: w]
    ycc = _rgb_to_ycbcr(padded) - 128.0

    # (block row, block col, component, 8, 8) as a strided view: numpy
    # multiplies a non-contiguous operand in its own loop rather than
    # BLAS, and the bytes depend on that rounding, so do not copy it
    blocks = ycc.reshape(ph // 8, 8, pw // 8, 8, 3).transpose(0, 2, 4, 1, 3)
    coef = np.matmul(np.matmul(_DCT, blocks), _DCT.T).reshape(-1, 3, 64)
    quant = np.round(coef / np.stack([qy, qc, qc])).astype(int)
    scan = _entropy_encode(quant[..., _ZIGZAG].reshape(-1, 64))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(int(x) for x in table.reshape(8, 8).ravel()[_ZIGZAG]))

    def dht(cls: int, tid: int, spec) -> bytes:
        bits, values = spec
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))

    app0 = seg(0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0))
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, qy)
        + dqt(1, qc)
        + sof
        + dht(0, 0, _DC_LUMA)
        + dht(1, 0, _AC_LUMA)
        + dht(0, 1, _DC_CHROMA)
        + dht(1, 1, _AC_CHROMA)
        + sos
        + scan
        + b"\xff\xd9"
    )


def _unstuff(data: bytes) -> bytes:
    """The entropy-coded bytes before the first marker (an 0xFF not
    followed by 0x00, or a trailing 0xFF), with each stuffed 0xFF 0x00
    read as 0xFF."""
    end = data.find(b"\xff")
    while end >= 0 and data[end + 1: end + 2] == b"\x00":
        end = data.find(b"\xff", end + 2)
    return data[: len(data) if end < 0 else end].replace(b"\xff\x00", b"\xff")


def _entropy_decode(scan: bytes, comps: list, nblocks: int):
    """Huffman + DC prediction + AC run-length over an unstuffed scan.

    ``comps`` holds per scan component (DC prediction key, DC table, AC
    table), the tables as `_huff_lookup` returns them.  Returns the
    coefficients as an int64 (nblocks, len(comps), 64) array in zigzag
    order, or None when the scan runs out or holds no valid code."""
    total = 8 * len(scan)
    a = np.frombuffer(scan + bytes(4), dtype=np.uint8).astype(np.uint32)
    # win[i]: the 32 bits from byte i on, so any read of up to 25 bits
    # at bit p is one shift and mask of win[p >> 3]
    win = ((a[:-3] << 24) | (a[1:-2] << 16) | (a[2:-1] << 8) | a[3:]).tolist()
    pred = {c[0]: 0 for c in comps}
    at, vals = [], []
    p = 0
    for blk in range(nblocks):
        for ci, (key, (dc_sym, dc_len), (ac_sym, ac_len)) in enumerate(comps):
            base = (blk * len(comps) + ci) * 64
            x = (win[p >> 3] >> (16 - (p & 7))) & 0xFFFF
            n = dc_len[x]
            if not n or p + n > total:
                return None
            size = dc_sym[x]
            p += n
            if size:
                if size > 25:
                    # only a non-standard DHT codes such a size: the
                    # read must fit in the whole bytes that reach 25
                    # bits past p, or the blob is rejected
                    if size > min(total, (p + 32) >> 3 << 3) - p:
                        return None
                    amp = (int.from_bytes(scan[p >> 3: (p >> 3) + 5].ljust(5, b"\0"), "big")
                           >> (40 - (p & 7) - size)) & ((1 << size) - 1)
                elif p + size > total:
                    return None
                else:
                    amp = (win[p >> 3] >> (32 - (p & 7) - size)) & ((1 << size) - 1)
                p += size
                pred[key] += amp if amp >> (size - 1) else amp - (1 << size) + 1
            at.append(base)
            vals.append(pred[key])
            k = 1
            while k < 64:
                x = (win[p >> 3] >> (16 - (p & 7))) & 0xFFFF
                n = ac_len[x]
                if not n or p + n > total:
                    return None
                rs = ac_sym[x]
                p += n
                size = rs & 15
                if not size:
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63 or p + size > total:
                    return None
                amp = (win[p >> 3] >> (32 - (p & 7) - size)) & ((1 << size) - 1)
                p += size
                at.append(base + k)
                vals.append(amp if amp >> (size - 1) else amp - (1 << size) + 1)
                k += 1
    zz = np.zeros(nblocks * len(comps) * 64, dtype=np.int64)
    zz[at] = vals
    return zz.reshape(nblocks, len(comps), 64)


def decode_jpeg_pixels(b: bytes):
    """Decode a baseline 4:4:4 JPEG to an (h, w, 3) uint8 array.
    Returns None for anything outside the supported profile or corrupt
    input (data, not errors)."""
    try:
        if not b or b[:2] != b"\xff\xd8":
            return None
        quant: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], tuple[bytes, bytes]] = {}
        w = h = None
        comp_q: dict[int, int] = {}
        comp_tabs: dict[int, tuple[int, int]] = {}
        comp_order: list[int] = []
        i = 2
        scan_start = None
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                return None
            marker = b[i + 1]
            if marker == 0xD9:
                break
            length = struct.unpack(">H", b[i + 2: i + 4])[0]
            payload = b[i + 4: i + 2 + length]
            if marker == 0xDB:
                p = 0
                while p < len(payload):
                    pq, tq = payload[p] >> 4, payload[p] & 0xF
                    if pq != 0:
                        return None  # 16-bit tables unsupported
                    tbl = np.zeros(64, dtype=np.int32)
                    tbl[_ZIGZAG] = np.frombuffer(
                        payload[p + 1: p + 65], dtype=np.uint8
                    ).astype(np.int32)
                    quant[tq] = tbl
                    p += 65
            elif marker == 0xC0:
                _prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
                if ncomp != 3:
                    return None
                for c in range(ncomp):
                    cid, samp, tq = payload[6 + 3 * c: 9 + 3 * c]
                    if samp != 0x11:
                        return None  # subsampling unsupported
                    comp_q[cid] = tq
            elif marker in (0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):
                return None  # non-baseline frame
            elif marker == 0xC4:
                p = 0
                while p < len(payload):
                    cls, tid = payload[p] >> 4, payload[p] & 0xF
                    bits = bytes(payload[p + 1: p + 17])
                    nvals = sum(bits)
                    values = bytes(payload[p + 17: p + 17 + nvals])
                    if len(bits) < 16 or len(values) < nvals:
                        return None  # truncated table
                    huff[(cls, tid)] = _huff_lookup(bits, values)
                    p += 17 + nvals
            elif marker == 0xDA:
                ns = payload[0]
                if ns != 3:
                    return None  # non-interleaved scans: out of profile
                for c in range(ns):
                    cid = payload[1 + 2 * c]
                    tabs = payload[2 + 2 * c]
                    comp_tabs[cid] = (tabs >> 4, tabs & 0xF)
                    comp_order.append(cid)
                scan_start = i + 2 + length
                break
            i += 2 + length
        if scan_start is None or w is None:
            return None
        if not (h and w):
            return np.zeros((h, w, 3), dtype=np.uint8)
        nby, nbx = (h + 7) // 8, (w + 7) // 8
        comps = [
            (cid, huff[(0, comp_tabs[cid][0])], huff[(1, comp_tabs[cid][1])])
            for cid in comp_order
        ]
        q = np.stack([quant[comp_q[cid]] for cid in comp_order])
        zz = _entropy_decode(_unstuff(b[scan_start:]), comps, nby * nbx)
        if zz is None:
            return None
        coef = np.zeros(zz.shape, dtype=np.float64)
        coef[..., _ZIGZAG] = zz * q[:, _ZIGZAG]
        blocks = np.matmul(
            np.matmul(_DCT.T, coef.reshape(nby, nbx, 3, 8, 8)), _DCT
        )
        out = blocks.transpose(0, 3, 1, 4, 2).reshape(nby * 8, nbx * 8, 3)
        rgb = _ycbcr_to_rgb(out + 128.0)
        return np.clip(np.round(rgb[:h, :w]), 0, 255).astype(np.uint8)
    except Exception:
        return None
