"""Pure-numpy baseline JPEG (ITU T.81) codec — no libraries.

Baseline sequential DCT JPEG needs no codec libraries — it is markers
+ Huffman + dequant + IDCT, all implementable from the public spec:

- **Decoder** (`decode_baseline_jpeg`): marker walk (SOI/APPn/COM/DQT/
  SOF0/DHT/DRI/SOS/EOI), canonical Huffman table construction, entropy
  decode of DC diffs and AC run/size symbols (EOB, ZRL, byte
  unstuffing 0xFF00, restart markers with DC-predictor reset),
  dequantization through the zigzag order, orthonormal 8x8 IDCT as one
  numpy tensor contraction per component, level shift + clamp.
  Supports 8-bit baseline (SOF0), grayscale and 3-component
  interleaved at ANY sampling factors h,v in 1..4 whose maxima divide
  evenly (so 4:4:4, 4:2:2, 4:2:0, 4:1:1 — every layout real encoders
  emit): the MCU walk reads v_i x h_i data units per component per MCU
  (T.81 A.2.3) and chroma planes are reconstructed by box (pixel-
  replication) upsampling, which is spec-conformant and EXACT on
  piecewise-constant blocks. Every other frame type — progressive
  (SOF2), extended, lossless, arithmetic-coded — raises
  NotImplementedError.
- **Encoder** (`encode_baseline_jpeg`): the exact inverse over caller-
  provided QUANTIZED coefficient blocks — so tests can plant arbitrary
  coefficient patterns (long zero runs, negative DC diffs, forced 0xFF
  stuffing, restart intervals) and require the decoder to recover them
  bit-exactly before any float enters the picture.

Entropy decode is inherently serial per scan (each Huffman code's
length is only known after decoding it), so the hot path at scale is
one scan per CORE via mapInPandas over many images — the shape of the
quarantine scan in operators/quarantine.py — not SIMD within one scan.
The block IDCT, where the arithmetic volume is, is vectorized across
all blocks of the image at once.

Reference analogue: none (the reference engine has no media path);
the decoder exists so operators/quarantine.py can classify JPEG blobs
in a crawl by running a real parser over them.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: ZIGZAG[k] = (row, col) flattened index of the k-th
# coefficient in scan order (T.81 Figure A.6)
_Z = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Standard Annex K luminance Huffman tables (T.81 Tables K.3/K.5):
# BITS[i] = number of codes of length i+1, then the symbol values.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
]

# orthonormal DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# IDCT of coefficient block C is A.T @ C @ A
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by T.81 Annex C canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the inverse of _canonical_codes."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self._acc, self._n = 0, 0

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)


def _magnitude(v: int) -> tuple[int, int]:
    """T.81 F.1.2.1: (category, appended bits) for a signed value."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


def encode_baseline_jpeg(
    coeffs,
    quant: np.ndarray,
    width: int,
    height: int,
    restart_interval: int = 0,
    scan_order: list[int] | None = None,
    sampling: list[tuple[int, int]] | None = None,
) -> bytes:
    """Encode QUANTIZED coefficient blocks as a baseline JPEG.

    coeffs: int array (by, bx, 8, 8) for grayscale or (nc, by, bx, 8, 8)
    for nc-component interleaved 4:4:4 (nc=3 => JFIF YCbCr), in natural
    (row, col) order — already quantized (what a real encoder has after
    FDCT + quant). quant: the 8x8 quantization table (natural order),
    shared by all components. The decoder must recover exactly these
    integers; floats only enter at its IDCT.

    scan_order: optional permutation of component indices. T.81 lets
    the SOS list components in any order and MCU interleave follows
    SCAN order, not frame order — externally produced files do this,
    and the decoder must resolve scan entries by component ID (ADVICE
    r05 #4). Default None = frame order (what common encoders emit).

    sampling: optional per-component (h_i, v_i) sampling factors
    (VERDICT r05 item 4 — 4:2:0 is what most real-world JPEGs use).
    When given, coeffs must be a SEQUENCE of per-component arrays,
    component i shaped (mcus_y * v_i, mcus_x * h_i, 8, 8) where
    mcus_x = ceil(width / (8*Hmax)), mcus_y = ceil(height / (8*Vmax))
    — i.e. the caller supplies the full padded block grid the MCU
    interleave covers (T.81 A.2.3). E.g. YCbCr 4:2:0 is
    sampling=[(2, 2), (1, 1), (1, 1)]. Default None = all 1x1.
    """
    if sampling is None:
        arr = np.asarray(coeffs)
        if arr.ndim == 4:
            arr = arr[None]
        comps = [arr[i] for i in range(arr.shape[0])]
        sampling = [(1, 1)] * len(comps)
    else:
        comps = [np.asarray(c) for c in coeffs]
        if len(sampling) != len(comps):
            raise ValueError("sampling and coeffs component counts differ")
    nc = len(comps)
    for h_i, v_i in sampling:
        if not (1 <= h_i <= 4 and 1 <= v_i <= 4):
            raise ValueError(f"sampling factors must be in 1..4, got {(h_i, v_i)}")
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    for ci, ((h_i, v_i), c) in enumerate(zip(sampling, comps)):
        want = (mcus_y * v_i, mcus_x * h_i, 8, 8)
        if c.shape != want:
            raise ValueError(
                f"component {ci}: expected block grid {want}, got {c.shape}"
            )
    order = list(range(nc)) if scan_order is None else list(scan_order)
    if sorted(order) != list(range(nc)):
        raise ValueError(f"scan_order must permute 0..{nc-1}, got {scan_order}")
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    zq = quant.reshape(64)[_Z].astype(np.int64)  # table is STORED in zigzag
    head = bytearray()
    head += b"\xff\xd8"  # SOI
    head += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    head += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(int(x) for x in zq)
    head += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, height, width, nc)
    for ci in range(nc):
        h_i, v_i = sampling[ci]
        head += bytes((ci + 1, (h_i << 4) | v_i, 0))  # id, sampling, quant table 0
    head += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(_DC_VALS))
        + b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
    )
    head += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(_AC_VALS))
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    if restart_interval:
        head += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    head += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in order:
        head += bytes((ci + 1, 0x00))  # DC/AC table 0; SOS order = scan order
    head += b"\x00\x3f\x00"

    def _put_block(w: _BitWriter, zz: np.ndarray, pred: list[int], ci: int) -> None:
        size, bits = _magnitude(int(zz[0]) - pred[ci])
        pred[ci] = int(zz[0])
        c, ln = dc_codes[size]
        w.put(c, ln)
        if size:
            w.put(bits, size)
        run = 0
        last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]  # ZRL: 16 zeros
                w.put(c, ln)
                run -= 16
            size, bits = _magnitude(v)
            c, ln = ac_codes[(run << 4) | size]
            w.put(c, ln)
            w.put(bits, size)
            run = 0
        if last_nz < 63:
            c, ln = ac_codes[0x00]  # EOB
            w.put(c, ln)

    body = bytearray()
    w = _BitWriter()
    pred = [0] * nc
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.flush()
                body += w.out
                body += bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)])
                w = _BitWriter()
                pred = [0] * nc
            for ci in order:  # MCU interleave follows SCAN order (T.81 B.2.3)
                h_i, v_i = sampling[ci]
                for iy in range(v_i):  # v_i x h_i data units per MCU (A.2.3)
                    for ix in range(h_i):
                        zz = comps[ci][my * v_i + iy, mx * h_i + ix].reshape(64)[_Z]
                        _put_block(w, zz, pred, ci)
            mcu += 1
    w.flush()
    body += w.out
    return bytes(head) + bytes(body) + b"\xff\xd9"


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2  # stuffed literal 0xFF
                else:
                    raise ValueError(f"marker 0xFF{nxt:02X} inside entropy data")
            else:
                self.pos += 1
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_and_expect_restart(self, m: int) -> None:
        """Byte-align and consume the RSTm marker (T.81 E.2.4)."""
        self._n = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + (m % 8):
            raise ValueError(
                f"expected RST{m % 8} at byte {self.pos}, got "
                f"{self.data[self.pos]:02X}{self.data[self.pos + 1]:02X}"
            )
        self.pos += 2


def _read_huff(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | r.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code (corrupt entropy stream)")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 sign extension of appended magnitude bits."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_baseline_jpeg(blob: bytes, return_coeffs: bool = False):
    """Decode a baseline (SOF0) JPEG. Returns a uint8 array (h, w) for
    grayscale or (h, w, 3) RGB for 3-component images; with
    `return_coeffs=True` returns (quantized_coeff_blocks, quant_tables)
    instead — the exact integers the entropy decoder recovered, so
    tests can assert bit-exact round trips with no float in the loop.
    Progressive (SOF2), extended, lossless and arithmetic-coded frames
    raise NotImplementedError."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart = 0
    while pos < len(blob):
        if blob[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("EOI before SOS: no image data")
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        (seglen,) = struct.unpack_from(">H", blob, pos)
        seg = blob[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables not baseline")
                zz = np.frombuffer(seg, dtype=np.uint8, count=64, offset=o + 1)
                nat = np.zeros(64, dtype=np.int64)
                nat[_Z] = zz  # stored zigzag -> natural
                quant[tq] = nat.reshape(8, 8)
                o += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0xF
                bits = list(seg[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(seg[o + 17 : o + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _decode_table(bits, vals)
                o += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError(f"only 8-bit precision supported, got {prec}")
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                h_i, v_i = samp >> 4, samp & 0xF
                if not (1 <= h_i <= 4 and 1 <= v_i <= 4):
                    raise ValueError(f"illegal sampling factors {(h_i, v_i)}")
                comps.append((cid, h_i, v_i, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise NotImplementedError(
                    "fractional chroma upsampling ratios not supported "
                    f"(sampling {[(c[1], c[2]) for c in comps]})"
                )
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"frame marker 0xFF{marker:02X} "
                "(extended/progressive/lossless/arithmetic) not supported"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tt = struct.unpack_from(">BB", seg, 1 + 2 * i)
                scan.append((cs, tt >> 4, tt & 0xF))
            # Ss, Se and Ah/Al close the SOS header; a segment that lacks
            # them is cut, and a baseline scan must carry 0, 63 and 0/0
            # (T.81 B.2.3) — anything else is a spectral-selection or
            # successive-approximation scan this decoder would misread
            ss, se, ahal = struct.unpack_from(">BBB", seg, 1 + 2 * ns)
            if (ss, se, ahal) != (0, 63, 0):
                raise ValueError(
                    f"baseline SOS needs Ss=0 Se=63 Ah=Al=0, got "
                    f"Ss={ss} Se={se} Ah={ahal >> 4} Al={ahal & 0xF}"
                )
            return _decode_scan(
                blob, pos + seglen, frame, scan, quant, huff_dc, huff_ac,
                restart, return_coeffs,
            )
        pos += seglen
    raise ValueError("truncated JPEG: no EOI")


def _decode_scan(
    blob, pos, frame, scan, quant, huff_dc, huff_ac, restart, return_coeffs
):
    h, w, comps = frame
    if len(scan) != len(comps):
        raise NotImplementedError("multi-scan (progressive-style) not supported")
    # Resolve each SOS entry's COMPONENT ID against the SOF0 component
    # list (ADVICE r05 #4): the scan may list components in a different
    # order than the frame header, and pairing them positionally would
    # silently swap Huffman/quant assignments and planes. MCU interleave
    # follows SCAN order (ITU T.81 B.2.3); storage follows FRAME order.
    cids = [cid for cid, _, _, _ in comps]
    scan_map = []
    for cs, td, ta in scan:
        if cs not in cids:
            raise ValueError(f"SOS component id {cs} not among SOF0 ids {cids}")
        fi = cids.index(cs)
        if fi in [m[0] for m in scan_map]:
            raise ValueError(f"SOS lists component id {cs} twice")
        scan_map.append((fi, td, ta))
    n_comp = len(comps)
    samp = [(h_i, v_i) for _, h_i, v_i, _ in comps]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component padded block grid covered by the MCU interleave
    comp_coeffs = [
        np.zeros((mcus_y * v_i, mcus_x * h_i, 8, 8), dtype=np.int64)
        for h_i, v_i in samp
    ]
    r = _BitReader(blob, pos)
    pred = [0] * n_comp

    def _read_block(ci: int, td: int, ta: int) -> np.ndarray:
        dc_tab = huff_dc[td]
        ac_tab = huff_ac[ta]
        zz = np.zeros(64, dtype=np.int64)
        size = _read_huff(r, dc_tab)
        diff = _extend(r.bits(size), size) if size else 0
        pred[ci] += diff
        zz[0] = pred[ci]
        k = 1
        while k < 64:
            sym = _read_huff(r, ac_tab)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            k += sym >> 4
            if k > 63:
                raise ValueError("AC run past end of block")
            size = sym & 0xF
            zz[k] = _extend(r.bits(size), size)
            k += 1
        return zz

    mcu, n_mcu = 0, mcus_x * mcus_y
    while mcu < n_mcu:
        if restart and mcu and mcu % restart == 0:
            r.align_and_expect_restart(mcu // restart - 1)
            pred = [0] * n_comp
        my, mx = divmod(mcu, mcus_x)
        for ci, td, ta in scan_map:  # v_i x h_i data units per MCU (A.2.3)
            h_i, v_i = samp[ci]
            for iy in range(v_i):
                for ix in range(h_i):
                    zz = _read_block(ci, td, ta)
                    comp_coeffs[ci][my * v_i + iy, mx * h_i + ix].reshape(64)[_Z] = zz
        mcu += 1

    return _reconstruct(frame, comp_coeffs, quant, return_coeffs)


def _reconstruct(frame, comp_coeffs, quant, return_coeffs):
    """Tail of the decode: dequant, IDCT, crop, chroma upsample, color
    convert (or return raw coefficients)."""
    h, w, comps = frame
    samp = [(h_i, v_i) for _, h_i, v_i, _ in comps]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    n_comp = len(comps)
    qtabs = [quant[tq] for _, _, _, tq in comps]
    if return_coeffs:
        if all(s == (1, 1) for s in samp):
            # back-compat 4:4:4/grayscale shape: (n_comp, by, bx, 8, 8)
            return np.stack(comp_coeffs), qtabs
        return comp_coeffs, qtabs

    # dequant + IDCT, vectorized over ALL blocks per component at once:
    # P[x,y] = sum_{u,v} A[u,x] * C[u,v] * A[v,y]  (P = A.T @ C @ A)
    planes = []
    for ci in range(n_comp):
        h_i, v_i = samp[ci]
        deq = (comp_coeffs[ci] * qtabs[ci]).astype(np.float64)
        px = np.einsum("ux,vy,abuv->abxy", _A, _A, deq)
        px = np.rint(px + 128.0)
        gy, gx = comp_coeffs[ci].shape[:2]
        img = px.transpose(0, 2, 1, 3).reshape(gy * 8, gx * 8)
        # crop to the component's own pixel dims (T.81 A.1.1), then box-
        # upsample by replication to full resolution — exact for
        # piecewise-constant chroma, and a conformant reconstruction for
        # everything else
        ch = (h * v_i + vmax - 1) // vmax
        cw = (w * h_i + hmax - 1) // hmax
        img = img[:ch, :cw]
        if v_i != vmax:
            img = np.repeat(img, vmax // v_i, axis=0)
        if h_i != hmax:
            img = np.repeat(img, hmax // h_i, axis=1)
        img = img[:h, :w]
        planes.append(np.clip(img, 0, 255).astype(np.uint8))
    if n_comp == 1:
        return planes[0]
    if n_comp == 3:
        # JFIF YCbCr -> RGB (T.871), rounded then clamped
        y = planes[0].astype(np.float64)
        cb = planes[1].astype(np.float64) - 128.0
        cr = planes[2].astype(np.float64) - 128.0
        rgb = np.stack(
            [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
            axis=-1,
        )
        return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    raise NotImplementedError(f"{n_comp}-component JPEG not supported")
