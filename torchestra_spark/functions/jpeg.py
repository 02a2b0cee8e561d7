"""Pure numpy/stdlib baseline JPEG codec (ITU T.81 sequential DCT).

Closes the last "real codec" stub in the multimodal layer (reference
parity: the reference treats media as opaque payloads + decode stages,
/root/reference — see multimodal.py): BMP/PNG/WAV already have real
pure-python decoders; this adds baseline JPEG with no external library.

Decoder (`decode_jpeg_pixels`): baseline (SOF0) huffman-coded scans,
8-bit quantization tables, 1- or 3-component images, chroma sampling
factors 1 or 2 in each axis (nearest upsampling), restart intervals.
Progressive (SOF2), arithmetic coding, 12-bit precision and 16-bit
quant tables raise NotImplementedError.

Encoder (`encode_jpeg`): synthesis/test twin — 8×8 orthonormal DCT,
Annex-K quantization tables, canonical flat Huffman tables (4-bit DC /
8-bit AC codes: compression is deliberately simple, correctness and
self-describing DHT segments are the point), optional 4:2:0 chroma
subsampling so the decoder's upsampling path has a test vector, and an
optional grayscale mode.

JPEG is lossy, so unlike BMP/PNG there is no bit-exact roundtrip: the
driver-gate query turns the codec contract into a CHECKED INVARIANT
(decode(encode(constant-color)) within quantization tolerance), the
tdigest_cdf pattern.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------- constants
# Annex K (ITU T.81) example quantization tables — public constants.
QUANT_LUMA = np.array(
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
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


def _zigzag_order() -> np.ndarray:
    """The standard 8×8 zigzag index sequence, generated (diagonal
    walk) rather than transcribed."""
    idx = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - j, j) for j in rng]
        if s % 2 == 0:
            diag = diag[::-1]
        idx += diag
    return np.array([r * 8 + c for r, c in idx], dtype=np.int64)


ZIGZAG = _zigzag_order()  # block.ravel()[ZIGZAG] -> zigzag sequence
UNZIGZAG = np.argsort(ZIGZAG)  # zigzag sequence[UNZIGZAG] -> raster


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: D @ B @ D.T transforms, the
    transpose inverts."""
    k = np.arange(8)
    D = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    D[0] *= 1 / np.sqrt(2)
    return D * 0.5


DCT = _dct_matrix()


# Rec.601 luma weights: the Y row of JFIF's YCbCr and every luminance
# decoder of the multimodal layer (``_luma``)
_REC601 = (0.299, 0.587, 0.114)


def _luma(rgb: np.ndarray) -> np.ndarray:
    """(..., 3) uint8 RGB -> (...) float32 Rec.601 luminance in [0,1]."""
    x = rgb.astype(np.float32) / 255.0
    wr, wg, wb = _REC601
    return x[..., 0] * wr + x[..., 1] * wg + x[..., 2] * wb


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    px = px.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    wr, wg, wb = _REC601
    return np.stack(
        [
            wr * r + wg * g + wb * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ],
        axis=-1,
    )


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -------------------------------------------------------------- tables
def _canonical_codes(bits: list, values: list) -> dict:
    """DHT (bits, values) -> {symbol: (code, length)} via the canonical
    JPEG assignment."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# Encoder tables: flat canonical codes (simple, valid, self-described
# in DHT).  DC: 12 symbols at 4 bits; AC: 162 symbols at 8 bits — both
# leave the all-ones code unused as T.81 requires.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALUES = list(range(12))
_AC_VALUES = sorted(
    {0x00, 0xF0} | {(run << 4) | size for run in range(16) for size in range(1, 11)}
)
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC_VALUES), 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC = _canonical_codes(_DC_BITS, _DC_VALUES)
_ENC_AC = _canonical_codes(_AC_BITS, _AC_VALUES)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.buf)


def _magnitude(v: int):
    """JPEG magnitude category: (size, appended bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(w: _BitWriter, zz: np.ndarray, dc_pred: int) -> int:
    diff = int(zz[0]) - dc_pred
    size, bits = _magnitude(diff)
    code, length = _ENC_DC[size]
    w.write(code, length)
    if size:
        w.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        if i > last_nz:
            break
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = _ENC_AC[0xF0]
            w.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = _ENC_AC[(run << 4) | size]
        w.write(code, length)
        w.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = _ENC_AC[0x00]  # EOB
        w.write(code, length)
    return int(zz[0])


def _dht_segment(tc: int, th: int, bits: list, values: list) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tq: int, table: np.ndarray) -> bytes:
    body = bytes([tq]) + bytes(int(x) for x in table.ravel()[ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def _component_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane (H, W multiples of 8) -> (n, 8, 8) blocks in
    raster MCU order."""
    H, W = plane.shape
    return (
        plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _quantize_plane(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Plane -> (n, 64) zigzag-ordered quantized coefficient rows."""
    blocks = _component_blocks(plane) - 128.0
    coef = np.einsum("ij,njk,lk->nil", DCT, blocks, DCT)
    zz = np.round(coef / q[None]).astype(np.int32).reshape(-1, 64)[:, ZIGZAG]
    return zz


def encode_jpeg(
    pixels: np.ndarray,
    subsample: bool = False,
    gray: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JPEG bytes.  ``subsample=True``
    emits 4:2:0 chroma (2×2 mean); ``gray=True`` encodes luminance only
    (single-component scan); ``restart_interval=N`` emits a DRI segment
    and RSTn markers every N MCUs (decoder-path test vector)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    ycc = _rgb_to_ycbcr(px)

    def pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
        H, W = plane.shape
        ph, pw = (-H) % mult, (-W) % mult
        return np.pad(plane, ((0, ph), (0, pw)), mode="edge")

    out = bytearray(b"\xff\xd8")  # SOI
    out += _dqt_segment(0, QUANT_LUMA)
    comps = []
    if gray:
        planes = [(1, pad_to(ycc[..., 0], 8), QUANT_LUMA, 0, (1, 1))]
        comps = [(1, 1, 1, 0)]
    else:
        out += _dqt_segment(1, QUANT_CHROMA)
        if subsample:
            y = pad_to(ycc[..., 0], 16)
            H2, W2 = y.shape
            cb = pad_to(ycc[..., 1], 16).reshape(H2 // 2, 2, W2 // 2, 2).mean((1, 3))
            cr = pad_to(ycc[..., 2], 16).reshape(H2 // 2, 2, W2 // 2, 2).mean((1, 3))
            planes = [
                (1, y, QUANT_LUMA, 0, (2, 2)),
                (2, cb, QUANT_CHROMA, 1, (1, 1)),
                (3, cr, QUANT_CHROMA, 1, (1, 1)),
            ]
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            planes = [
                (1, pad_to(ycc[..., 0], 8), QUANT_LUMA, 0, (1, 1)),
                (2, pad_to(ycc[..., 1], 8), QUANT_CHROMA, 1, (1, 1)),
                (3, pad_to(ycc[..., 2], 8), QUANT_CHROMA, 1, (1, 1)),
            ]
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    # SOF0
    body = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        body += bytes([cid, (hs << 4) | vs, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(body) + 2) + body
    # DHT: one DC + one AC table, used by every component
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALUES)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALUES)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    body = bytes([len(comps)])
    for cid, _hs, _vs, _tq in comps:
        body += bytes([cid, 0x00])  # DC table 0 / AC table 0
    body += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(body) + 2) + body

    zz_per_comp = [_quantize_plane(pl, q) for (_cid, pl, q, _tq, _sf) in planes]
    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0

    if gray or not subsample:
        total_mcus = zz_per_comp[0].shape[0]
    else:
        _H2, _W2 = planes[0][1].shape
        total_mcus = (_H2 // 16) * (_W2 // 16)

    def maybe_restart():
        nonlocal mcu_count, rst, preds
        mcu_count += 1
        # no RSTn after the FINAL MCU: a trailing restart marker is a
        # nonconformant stream for strict external decoders (ADVICE r7)
        if mcu_count >= total_mcus:
            return
        if restart_interval and mcu_count % restart_interval == 0:
            out.extend(writer.flush())
            writer.buf = bytearray()
            out.extend(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            preds = [0] * len(planes)

    if gray or not subsample:
        n_blocks = zz_per_comp[0].shape[0]
        for b in range(n_blocks):
            for c in range(len(planes)):
                preds[c] = _encode_block(writer, zz_per_comp[c][b], preds[c])
            maybe_restart()
    else:
        # 4:2:0 MCU = 4 luma blocks (2x2) + 1 Cb + 1 Cr
        H2, W2 = planes[0][1].shape
        bw = W2 // 8  # luma blocks per row
        mcu_rows, mcu_cols = H2 // 16, W2 // 16
        for mr in range(mcu_rows):
            for mc in range(mcu_cols):
                for dy in range(2):
                    for dx in range(2):
                        bi = (mr * 2 + dy) * bw + (mc * 2 + dx)
                        preds[0] = _encode_block(writer, zz_per_comp[0][bi], preds[0])
                cbw = W2 // 16
                ci = mr * cbw + mc
                preds[1] = _encode_block(writer, zz_per_comp[1][ci], preds[1])
                preds[2] = _encode_block(writer, zz_per_comp[2][ci], preds[2])
                maybe_restart()
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -------------------------------------------------------------- decode
class _BitReader:
    """Entropy-coded-segment bit reader: unstuffs 0xFF00, stops at (and
    reports) restart/terminating markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG bitstream truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt  # restart or EOI/next segment
                b = 0  # pad bits past the marker are never used validly
                self.acc = (self.acc << 8) | b
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Drop pad bits, consume the pending marker, reset state."""
        self.acc = 0
        self.nbits = 0
        m = self.marker
        if m is None:
            # scan forward for the marker byte pair
            d = self.data
            while self.pos + 1 < len(d) and not (
                d[self.pos] == 0xFF and d[self.pos + 1] != 0x00
            ):
                self.pos += 1
            if self.pos + 1 >= len(d):
                raise ValueError("JPEG bitstream truncated: no marker before end of data")
            m = d[self.pos + 1]
        self.pos = min(self.pos + 2, len(self.data)) if self.marker is None else self.pos + 2
        self.marker = None
        return m


def _decode_huffman(reader: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg_pixels(payload: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w, 3) uint8 RGB (grayscale replicated)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant = {}
    huff = {}  # (class, id) -> {(code, length): symbol}
    frame = None
    restart_interval = 0
    data = payload
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seglen = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables not supported")
                zz = np.frombuffer(body, np.uint8, 64, off + 1).astype(np.int32)
                quant[tq] = zz[UNZIGZAG].reshape(8, 8)
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                values = list(body[off + 17 : off + 17 + n])
                huff[(tc, th)] = {
                    (code, length): sym
                    for sym, (code, length) in _canonical_codes(bits, values).items()
                }
                off += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            comps = []
            for i in range(nc):
                cid, sf, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append(dict(cid=cid, h=sf >> 4, v=sf & 0xF, tq=tq))
            frame = dict(h=h, w=w, comps=comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0/SOF1) JPEG supported — progressive/"
                "arithmetic scans need an external codec"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i : 3 + 2 * i]
                comp = next(c for c in frame["comps"] if c["cid"] == cid)
                scan.append((comp, tt >> 4, tt & 0xF))
            pos = pos + 2 + seglen
            return _decode_scan(data, pos, frame, scan, quant, huff, restart_interval)
        pos += 2 + seglen
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(data, pos, frame, scan, quant, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcols = -(-w // mcu_w)
    mrows = -(-h // mcu_h)
    planes = []
    for comp, _td, _ta in scan:
        pw, ph = mcols * 8 * comp["h"], mrows * 8 * comp["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))

    reader = _BitReader(data, pos)
    preds = [0] * len(scan)
    mcu_count = 0
    for mr in range(mrows):
        for mc in range(mcols):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError(f"expected JPEG restart marker, got {m:#x}")
                preds = [0] * len(scan)
            for ci, (comp, td, ta) in enumerate(scan):
                dc_tab = huff[(0, td)]
                ac_tab = huff[(1, ta)]
                q = quant[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        size = _decode_huffman(reader, dc_tab)
                        diff = _extend(reader.receive(size), size) if size else 0
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = _decode_huffman(reader, ac_tab)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            size = sym & 0xF
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _extend(reader.receive(size), size)
                            k += 1
                        block = (zz[UNZIGZAG].reshape(8, 8) * q).astype(np.float64)
                        pix = DCT.T @ block @ DCT + 128.0
                        y0 = (mr * comp["v"] + by) * 8
                        x0 = (mc * comp["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1

    full = []
    for ci, (comp, _td, _ta) in enumerate(scan):
        pl = planes[ci]
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
        full.append(pl[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    return _ycbcr_to_rgb(np.stack(full, axis=-1))


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w) float32 luminance in [0,1] (Rec.601 —
    the ``decode_bmp``/``decode_png`` twin)."""
    return _luma(decode_jpeg_pixels(payload))
