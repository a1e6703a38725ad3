"""Pure-numpy baseline JPEG codec (ITU-T T.81 sequential DCT, grayscale).

The container has no PIL/libjpeg/ffmpeg, but baseline JPEG is fully
specified public knowledge (ITU-T Rec. T.81 / ISO 10918-1): 8x8 forward
DCT, uniform quantization, zigzag scan, DC prediction + AC run-length,
canonical Huffman entropy coding, and a marker-segmented container
(SOI/APP0/DQT/SOF0/DHT/SOS/EOI with 0xFF00 byte stuffing). Everything
below implements that spec directly with numpy + struct — no external
codec library — so the multimodal operators' JPEG path is REAL decode,
not a stub:

* ``encode_jpeg_gray(img, quality)`` writes a spec-conformant baseline
  JFIF stream using the Annex K luminance quantization + Huffman tables
  (scaled IJG-style by ``quality``; ``quality=None`` embeds an all-ones
  quantization table, under which block-constant images round-trip
  EXACTLY — the property the driver oracles exploit).
* ``decode_jpeg_gray(data)`` is a genuine marker parser + entropy
  decoder: it reads the quantization and Huffman tables FROM the stream
  (DQT/DHT segments, not hardcoded mirrors), Huffman-decodes the
  entropy-coded segment with byte-unstuffing and RSTn handling,
  dequantizes, inverse-zigzags, applies the 2-D IDCT and level shift.

Executor-side usage is Arrow-batched ``mapInPandas``
(``operators/multimodal.py``); per-image cost is a handful of 8x8 numpy
matmuls plus a short Huffman symbol loop — microseconds for the small
deterministic images the pipeline generates, and embarrassingly parallel
across partitions at any corpus scale.

Reference parity note: the reference pipeline (LDAClustering.scala) is
text-only; this is rebuild-contract scope (multimodal training-data
columns), not reference scope.
"""

from __future__ import annotations

import struct

import numpy as np

# --- ITU-T T.81 Annex K.1: luminance quantization table (natural order) ---
STD_LUMA_QT = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

# --- T.81 Annex K.3: luminance DC Huffman spec (BITS counts, HUFFVAL) ---
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# --- T.81 Annex K.5: luminance AC Huffman spec ---
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(DC_BITS) == len(DC_VALS)
assert sum(AC_BITS) == len(AC_VALS) == 162

# Zigzag scan order: ZIGZAG[i] = natural (row-major) index of the i-th
# zigzag position, derived procedurally from the spec's diagonal walk.


def _zigzag_order() -> np.ndarray:
    order = []
    for s in range(15):  # anti-diagonals of an 8x8 grid
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - j, j) for j in rng]
        if s % 2 == 0:  # even diagonals run bottom-left -> top-right
            diag.reverse()
        order.extend(r * 8 + c for r, c in diag)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
assert sorted(ZIGZAG.tolist()) == list(range(64))

# Orthonormal 8-point DCT-II matrix: M @ block @ M.T gives exactly the
# T.81 FDCT coefficients (and M.T @ coef @ M the IDCT).


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None].astype(np.float64)
    n = np.arange(8)[None, :].astype(np.float64)
    m = np.cos((2 * n + 1) * k * np.pi / 16) * 0.5
    m[0, :] = 1.0 / np.sqrt(8.0)
    return m


_DCT_M = _dct_matrix()


def quant_table(quality: int | None) -> np.ndarray:
    """IJG-style quality scaling of the Annex K luminance table;
    ``quality=None`` -> all-ones (block-constant images round-trip
    exactly, see module docstring)."""
    if quality is None:
        return np.ones((8, 8), dtype=np.int32)
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    qt = (STD_LUMA_QT * scale + 50) // 100
    return np.clip(qt, 1, 255).astype(np.int32)


# ---------------------------------------------------------------------------
# Canonical Huffman construction (T.81 Annex C)
# ---------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via the canonical assignment of Annex C.
    Validates the table (a corrupt DHT must fail as ValueError, not index
    past the value list or overflow the code space)."""
    if len(bits) != 16:
        raise ValueError("corrupt Huffman table: BITS must have 16 entries")
    if sum(bits) != len(vals):
        raise ValueError("corrupt Huffman table: BITS total != value count")
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("corrupt Huffman table: code space overflow")
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


import functools


@functools.lru_cache(maxsize=64)
def _fast_decode_table(bits_b: bytes, vals_b: bytes):
    """libjpeg-style accelerated Huffman decode: a 2^16-entry lookup from
    the next 16 peeked bits to (symbol, code length). Built once per
    distinct DHT payload (lru-cached on the raw table bytes — all frames
    of a corpus share tables, so this amortizes to zero)."""
    codes = _build_codes(list(bits_b), list(vals_b))
    syms = np.zeros(1 << 16, dtype=np.int32)
    lens = np.zeros(1 << 16, dtype=np.uint8)
    for sym, (code, ln) in codes.items():
        prefix = code << (16 - ln)
        span = 1 << (16 - ln)
        syms[prefix : prefix + span] = sym
        lens[prefix : prefix + span] = ln
    return syms, lens


class _BitWriter:
    """MSB-first bit accumulator with T.81 F.1.2.3 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # stuff a zero so the byte can't read as a marker
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)

    def emit_restart(self, n: int) -> None:
        """T.81 E.1.4: byte-align (1-bit padding) then write RSTn — marker
        bytes are raw, never byte-stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n % 8)])


def _category(v: int) -> int:
    """Bit-size category of a DC diff / AC coefficient (T.81 F.1.2.1.1)."""
    return int(abs(v)).bit_length()


def _magnitude_bits(v: int, size: int) -> int:
    """Additional bits: v itself if positive, ones'-complement if negative."""
    return v if v >= 0 else v + (1 << size) - 1


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _fdct_quantize_zigzag(blocks: np.ndarray, qt_f: np.ndarray) -> np.ndarray:
    """Batch FDCT + quantize + zigzag for a (n, 8, 8) block stack — one
    einsum instead of n small matmuls. Rounds half away from zero
    (libjpeg behaviour), not banker's."""
    coef = np.einsum("ij,njk,lk->nil", _DCT_M, blocks, _DCT_M)
    q = np.sign(coef) * np.floor(np.abs(coef) / qt_f + 0.5)
    return q.reshape(-1, 64)[:, ZIGZAG].astype(np.int64)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (H/8 * W/8, 8, 8) in raster block order."""
    hh, ww = plane.shape
    return (
        plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _encode_block_zz(bw: _BitWriter, zz: np.ndarray, dc_codes, ac_codes,
                     prev_dc: int) -> int:
    """Huffman-code one pre-quantized zigzag block; returns new DC pred.
    Iterates only the nonzero AC positions (sparse blocks cost ~nothing)."""
    diff = int(zz[0]) - prev_dc
    prev_dc = int(zz[0])
    size = _category(diff)
    code, ln = dc_codes[size]
    bw.put(code, ln)
    if size:
        bw.put(_magnitude_bits(diff, size), size)
    nz = np.nonzero(zz[1:])[0]
    prevpos = 0
    for pos in nz + 1:
        run = int(pos) - prevpos - 1
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL: 16 zeros
            bw.put(code, ln)
            run -= 16
        v = int(zz[pos])
        size = _category(v)
        code, ln = ac_codes[(run << 4) | size]
        bw.put(code, ln)
        bw.put(_magnitude_bits(v, size), size)
        prevpos = int(pos)
    if prevpos < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return prev_dc


def encode_jpeg_gray(
    img: np.ndarray, quality: int | None = None, restart_interval: int = 0
) -> bytes:
    """Encode an 8-bit grayscale image as a baseline sequential JFIF JPEG.

    Edge-replicates to 8x8 block multiples, batch FDCT + quantize +
    zigzag, then Huffman-codes with the Annex K luminance tables
    (embedded via DHT so any spec decoder — including ours — reads them
    back). ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    every that-many MCUs (T.81 E.1.4: byte-align, RST(n mod 8), DC
    predictor reset) — used to exercise the decoder's restart path."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 2:
        raise ValueError("grayscale encoder expects a 2-D array")
    h, w = img.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ph, pw = -h % 8, -w % 8
    padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0
    qt = quant_table(quality)
    dc_codes = _build_codes(DC_BITS, DC_VALS)
    ac_codes = _build_codes(AC_BITS, AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    zzs = _fdct_quantize_zigzag(_blockify(padded), qt.astype(np.float64))
    for i, zz in enumerate(zzs):
        if restart_interval and i and i % restart_interval == 0:
            bw.emit_restart(i // restart_interval - 1)
            prev_dc = 0  # F.2.1.3.1: predictors reset at every restart
        prev_dc = _encode_block_zz(bw, zz, dc_codes, ac_codes, prev_dc)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0x00]) + bytes(qt.ravel()[ZIGZAG].astype(np.uint8).tolist())
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
        + bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"  # SOI
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht)
        + dri
        + seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"  # EOI
    )


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with byte
    unstuffing (0xFF00 -> 0xFF) and RSTn tolerance."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.hit_marker = False
        self.at_restart = False

    def _fill(self) -> None:
        if self.pos >= len(self.data) - 1:  # truncated stream: no marker room
            self.hit_marker = True
            return
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed literal 0xFF
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                # RSTn: stop WITHOUT consuming — only sync_restart() (called
                # at a DRI-declared MCU boundary, which resets the DC
                # predictors) may cross it; reading past one anywhere else
                # is a malformed stream and fails loudly below
                self.hit_marker = True
                self.at_restart = True
                b = None
            else:  # real marker (EOI/next segment): stop
                self.hit_marker = True
                b = None
        else:
            self.pos += 1
        if b is not None:
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def sync_restart(self, expect_n: int) -> None:
        """T.81 F.2.1.3.1 restart boundary: discard the current interval's
        byte-padding bits, consume the (byte-aligned) RSTn marker, verify
        its modulo-8 sequence number, and rearm the reader. The caller
        resets the DC predictors."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos >= len(self.data) - 1
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("missing restart marker at DRI boundary")
        if self.data[self.pos + 1] != 0xD0 + (expect_n % 8):
            raise ValueError("restart marker out of sequence")
        self.pos += 2
        self.hit_marker = False
        self.at_restart = False

    def read_bit(self) -> int:
        while self.nbits == 0:
            if self.at_restart:
                raise ValueError("unexpected restart marker in entropy stream")
            if self.hit_marker:
                return 0  # spec: pad reads past the end with 0
            self._fill()
            if self.hit_marker and self.nbits == 0:
                if self.at_restart:
                    raise ValueError("unexpected restart marker in entropy stream")
                return 0
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def peek16(self) -> int:
        """Next 16 bits MSB-first without consuming (zero-padded past the
        end of the entropy segment — legal: trailing pad bits are 1s and
        the block loop is count-bounded, so padding is never decoded)."""
        while self.nbits < 16 and not self.hit_marker:
            self._fill()
        if self.nbits == 0 and self.at_restart:
            # a whole symbol would decode from virtual padding past an
            # unconsumed RSTn — malformed unless sync_restart() was due
            raise ValueError("unexpected restart marker in entropy stream")
        if self.nbits >= 16:
            return (self.acc >> (self.nbits - 16)) & 0xFFFF
        return (self.acc << (16 - self.nbits)) & 0xFFFF

    def consume(self, n: int) -> None:
        if self.nbits >= n:
            self.nbits -= n
            self.acc &= (1 << self.nbits) - 1
        else:  # consumed virtual padding at stream end
            self.nbits = 0
            self.acc = 0

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if n <= 16:
            v = self.peek16() >> (16 - n)
            self.consume(n)
            return v
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map magnitude bits back to a signed value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_symbol(br: _BitReader, table) -> int:
    """One Huffman symbol via the 16-bit peek table (libjpeg-style)."""
    syms, lens = table
    p = br.peek16()
    ln = int(lens[p])
    if ln == 0:
        raise ValueError("invalid Huffman code in entropy stream")
    br.consume(ln)
    return int(syms[p])


def _decode_block_zz(br: _BitReader, dc_tab, ac_tab, out_zz: np.ndarray,
                     prev_dc: int) -> int:
    """Entropy-decode one 8x8 block into ``out_zz`` (zigzag order);
    returns the new DC predictor. IDCT happens batched afterwards."""
    size = _decode_symbol(br, dc_tab)
    prev_dc += _extend(br.read_bits(size), size)
    out_zz[0] = prev_dc
    i = 1
    while i < 64:
        sym = _decode_symbol(br, ac_tab)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("invalid AC symbol")
            i += 16  # ZRL
            continue
        i += run
        if i > 63:
            raise ValueError("AC run past end of block")
        out_zz[i] = _extend(br.read_bits(size), size)
        i += 1
    return prev_dc


def _decode_baseline(data: bytes):
    """Shared baseline-sequential decoder core: marker walk, DQT/DHT read
    from the stream, interleaved-MCU entropy decode with per-component DC
    predictors. Returns (planes, (h, w), sampling) where ``planes[c]`` is
    the float component plane at ITS OWN resolution (chroma still
    subsampled) and ``sampling[c] = (h_factor, v_factor)``."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    comps: list[dict] = []  # SOF order: {id, hs, vs, qt}
    sos_pos = -1
    dri_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at offset {pos}")
        if pos + 1 >= len(data):
            raise ValueError("truncated JPEG: marker byte cut off")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        payload = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(payload):
                pq, tq = payload[off] >> 4, payload[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported (baseline)")
                zz = np.frombuffer(payload[off + 1 : off + 65], dtype=np.uint8)
                nat = np.empty(64, dtype=np.int32)
                nat[ZIGZAG] = zz
                qtables[tq] = nat.reshape(8, 8)
                off += 65
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            for c in range(ncomp):
                cid, samp, qtab = payload[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "hs": samp >> 4, "vs": samp & 0x0F, "qt": qtab})
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            off = 0
            while off < len(payload):
                tc, th = payload[off] >> 4, payload[off] & 0x0F
                bits = payload[off + 1 : off + 17]
                nvals = sum(bits)
                vals = payload[off + 17 : off + 17 + nvals]
                htables[(tc, th)] = _fast_decode_table(bytes(bits), bytes(vals))
                off += 17 + nvals
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            dri_interval = struct.unpack(">H", payload[:2])[0]
        elif marker == 0xDA:  # SOS
            if not payload:
                raise ValueError("truncated SOS segment")
            ns = payload[0]
            if ns != len(comps):
                raise ValueError("non-interleaved scans not supported")
            if len(payload) < 1 + 2 * ns:
                raise ValueError("truncated SOS segment")
            by_id = {c["id"]: c for c in comps}
            for s in range(ns):
                cid, tabs = payload[1 + 2 * s], payload[2 + 2 * s]
                if cid not in by_id:
                    raise ValueError("SOS references a component not in SOF")
                by_id[cid]["dc"], by_id[cid]["ac"] = tabs >> 4, tabs & 0x0F
            sos_pos = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if sos_pos < 0 or h == 0 or not comps:
        raise ValueError("truncated JPEG: no SOS/SOF")
    for c in comps:
        # corrupt DHT/DQT/SOS segments must fail loudly before the MCU loop
        if "dc" not in c or "ac" not in c:
            raise ValueError("JPEG component missing scan table assignment")
        if (0, c["dc"]) not in htables or (1, c["ac"]) not in htables:
            raise ValueError("JPEG scan references an undefined Huffman table")
        if c["qt"] not in qtables:
            raise ValueError("JPEG component references an undefined quant table")
        if c["hs"] < 1 or c["vs"] < 1 or c["hs"] > 4 or c["vs"] > 4:
            raise ValueError("invalid JPEG sampling factors")
    restart_interval = dri_interval
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcus = mcus_y * mcus_x
    # entropy pass: fill per-component zigzag stacks in MCU arrival order
    zz_stacks = [
        np.zeros((n_mcus * c["vs"] * c["hs"], 64), dtype=np.float64) for c in comps
    ]
    fills = [0] * len(comps)
    br = _BitReader(data, sos_pos)
    prev_dc = [0] * len(comps)
    for _m in range(n_mcus):
        if restart_interval and _m and _m % restart_interval == 0:
            # F.2.1.3.1: consume the byte-aligned RSTn and reset every
            # component's DC predictor
            br.sync_restart(_m // restart_interval - 1)
            prev_dc = [0] * len(comps)
        for ci, c in enumerate(comps):
            dc_tab, ac_tab = htables[(0, c["dc"])], htables[(1, c["ac"])]
            for _b in range(c["vs"] * c["hs"]):
                prev_dc[ci] = _decode_block_zz(
                    br, dc_tab, ac_tab, zz_stacks[ci][fills[ci]], prev_dc[ci]
                )
                fills[ci] += 1
    # batched dequant + inverse zigzag + IDCT per component (one einsum
    # per plane instead of one matmul per block), then MCU de-interleave
    planes = []
    for ci, c in enumerate(comps):
        nat = np.zeros((zz_stacks[ci].shape[0], 64), dtype=np.float64)
        nat[:, ZIGZAG] = zz_stacks[ci]
        coef = nat.reshape(-1, 8, 8) * qtables[c["qt"]].astype(np.float64)
        spatial = np.einsum("ji,njk,kl->nil", _DCT_M, coef, _DCT_M) + 128.0
        vs, hs = c["vs"], c["hs"]
        plane = (
            spatial.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * vs * 8, mcus_x * hs * 8)
        )
        planes.append(plane)
    sampling = [(c["hs"], c["vs"]) for c in comps]
    return planes, (h, w), sampling


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Decode a baseline sequential grayscale JPEG to a uint8 array.

    Genuine spec decode: marker walk, DQT/DHT tables read from the
    stream, Huffman + RLE entropy decode, dequantize, inverse zigzag,
    2-D IDCT, level shift, clamp, crop to the SOF dimensions."""
    planes, (h, w), sampling = _decode_baseline(data)
    if len(planes) != 1:
        raise ValueError("not a grayscale JPEG; use decode_jpeg_rgb")
    return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[:h, :w]


# JFIF YCbCr <-> RGB (ITU-R BT.601 full-range, the JFIF Annex matrices)
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


def decode_jpeg_rgb(data: bytes) -> np.ndarray:
    """Decode a baseline color JPEG (any sampling incl. 4:2:0) to an
    (h, w, 3) uint8 RGB array: interleaved-MCU entropy decode, chroma
    upsample by pixel replication, JFIF YCbCr -> RGB."""
    planes, (h, w), sampling = _decode_baseline(data)
    if len(planes) != 3:
        raise ValueError("not a 3-component JPEG; use decode_jpeg_gray")
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    full = []
    for plane, (hs, vs) in zip(planes, sampling):
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(up[: planes[0].shape[0] * vmax // sampling[0][1],
                       : planes[0].shape[1] * hmax // sampling[0][0]])
    ycc = np.stack([f[: full[0].shape[0], : full[0].shape[1]] for f in full], axis=-1)
    rgb = _ycbcr_to_rgb(ycc)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)[:h, :w]


def encode_jpeg_rgb(img: np.ndarray, quality: int | None = None) -> bytes:
    """Encode an (h, w, 3) uint8 RGB image as a baseline 4:2:0 color JPEG.

    JFIF RGB -> YCbCr, chroma downsampled by 2x2 box averaging, padded to
    16x16 MCU multiples, interleaved MCUs (Y00 Y01 Y10 Y11 Cb Cr) with
    per-component DC predictors. Luma and chroma share the Annex K
    luminance quant/Huffman tables (ids 0 — spec-legal: table assignment
    is per-component via SOF/SOS, and the decoder reads them from the
    stream)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("color encoder expects an (h, w, 3) array")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ycc = _rgb_to_ycbcr(img.astype(np.float64))
    ph, pw = -h % 16, -w % 16
    ycc = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
    y_plane = ycc[..., 0] - 128.0
    # 4:2:0 chroma: 2x2 box average, then level shift
    cb = ycc[..., 1].reshape(ycc.shape[0] // 2, 2, ycc.shape[1] // 2, 2).mean(axis=(1, 3)) - 128.0
    cr = ycc[..., 2].reshape(ycc.shape[0] // 2, 2, ycc.shape[1] // 2, 2).mean(axis=(1, 3)) - 128.0
    qt = quant_table(quality)
    qt_f = qt.astype(np.float64)
    dc_codes = _build_codes(DC_BITS, DC_VALS)
    ac_codes = _build_codes(AC_BITS, AC_VALS)
    bw = _BitWriter()
    prev = [0, 0, 0]  # per-component DC predictors
    mcus_y, mcus_x = ycc.shape[0] // 16, ycc.shape[1] // 16
    # batch FDCT per component; MCU interleaving is then index arithmetic
    # over the precomputed zigzag stacks
    y_zz = _fdct_quantize_zigzag(
        y_plane.reshape(mcus_y, 2, 8, mcus_x, 2, 8)
        .transpose(0, 3, 1, 4, 2, 5)
        .reshape(-1, 8, 8),  # (my, mx, v, hh) raster order
        qt_f,
    )
    cb_zz = _fdct_quantize_zigzag(_blockify(cb), qt_f)
    cr_zz = _fdct_quantize_zigzag(_blockify(cr), qt_f)
    for m in range(mcus_y * mcus_x):
        for k in range(4):  # four Y blocks, raster order within the MCU
            prev[0] = _encode_block_zz(bw, y_zz[4 * m + k], dc_codes, ac_codes, prev[0])
        prev[1] = _encode_block_zz(bw, cb_zz[m], dc_codes, ac_codes, prev[1])
        prev[2] = _encode_block_zz(bw, cr_zz[m], dc_codes, ac_codes, prev[2])
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0x00]) + bytes(qt.ravel()[ZIGZAG].astype(np.uint8).tolist())
    sof0 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]  # Y 2x2, Cb/Cr 1x1, all qt 0
    )
    dht = (
        bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
        + bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht)
        + seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"
    )
