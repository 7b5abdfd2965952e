"""Baseline-sequential JPEG codec (ITU-T T.81), stdlib+numpy only —
the round-10 close of the last stdlib-feasible codec arm. The round-9
header arm (multimodal.jpeg_header_stats) stops at the SOF0 frame
header; this module implements the ENTROPY-CODED layer both ways:

- :func:`encode_jpeg_baseline` — a real single-component (grayscale)
  baseline encoder: canonical Huffman tables emitted in DHT, DC
  difference coding with magnitude categories (T.81 F.1.2.1), AC
  run/size symbols with EOB and ZRL (F.1.2.2), zig-zag coefficient
  order, 0xFF byte stuffing, DQT/SOF0/SOS framing.
- :func:`decode_jpeg_pixels` — the matching decoder: marker walk,
  DQT/DHT/SOF0/DRI/SOS parse, canonical Huffman decode via the spec's
  MINCODE/MAXCODE/VALPTR algorithm (F.2.2.3), EXTEND sign recovery
  (F.2.2.1), restart-marker handling (RST0-7 sequence check, bit
  realignment, DC-predictor reset per E.2.4), dequantization,
  vectorized 2-D IDCT (numpy basis product), level shift + clamp.

Correctness strategy (why this is gate-able without an image
library): the encoder takes QUANTIZED COEFFICIENTS as input, so a
pytest round-trip encodes arbitrary coefficient blocks, decodes the
bitstream, and compares against the IDCT of those same coefficients
computed directly — pinning the Huffman/zig-zag/stuffing/
DC-prediction/dequant layers bit-exactly for the full AC path. The
registry entry (queries/multimodal_queries.py jpeg_pixel_stats) then
value-gates the END-TO-END chain on DC-only fixtures, where the IDCT
output is integer-exact (a DC-only block decodes to the flat value
``round(dc * q / 8) + 128``; with q=8 that is ``dc + 128`` exactly),
so DuckDB replays the decoded pixel sums from doc_id arithmetic.

ValueError-only corruption contract like every codec arm: corrupt /
truncated / non-baseline payloads raise ValueError, nothing else.

Reference twin: none — the reference (Idanconley123/advisoryDataPipeline)
contains no media code; this is north-star multimodal surface
(SURVEY.md §2 beyond-reference block). Public spec: ITU-T T.81
(identical to ISO/IEC 10918-1).
"""

from __future__ import annotations

import math


def _zigzag_order() -> list[int]:
    """Natural (row*8+col) indices in zig-zag scan order, generated
    from the spec's diagonal walk rather than transcribed (a single
    transposed entry would silently scramble coefficients)."""
    order = []
    for s in range(15):
        diag = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(r * 8 + c for r, c in diag)
    return order


ZIGZAG = _zigzag_order()

# deterministic flat luma quant table (q=8 for DC keeps the DC-only
# decode integer-exact: dc*8/8 == dc); AC entries likewise 8 so the
# pytest round-trip exercises real dequant multiplication
FLAT_QUANT = [8] * 64


def _magnitude_category(v: int) -> int:
    """T.81 F.1.2.1: category = number of bits in |v| (0 for 0)."""
    return 0 if v == 0 else abs(v).bit_length()


def _canonical_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """(BITS[1..16], HUFFVAL) for a canonical all-one-length table:
    every symbol gets length k = ceil(log2(n+1)), which satisfies
    Kraft with the all-ones code left unused (T.81 requires the
    longest all-1 code be reserved)."""
    n = len(symbols)
    if n == 0:
        raise ValueError("empty Huffman symbol set")
    k = max(1, (n + 1 - 1).bit_length())  # smallest k with 2^k >= n+1
    while (1 << k) < n + 1:
        k += 1
    bits = [0] * 17
    bits[k] = n
    return bits, list(symbols)


def _encode_map(
    bits: list[int], huffval: list[int]
) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by canonical code assignment
    (T.81 C.2: codes of each length are consecutive)."""
    out: dict[int, tuple[int, int]] = {}
    code, idx = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[huffval[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc, self.nbits = 0, 0

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)

    def restart(self, m: int) -> None:
        """Byte-align (1-bit padding) and emit RSTm — markers are raw
        bytes in the entropy stream, never subject to 0xFF stuffing."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (m & 7)])


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_jpeg_baseline(
    coef_blocks: list[list[int]],
    width: int,
    height: int,
    quant: list[int] = FLAT_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Encode quantized coefficient blocks (natural order, one 64-int
    list per 8x8 block, blocks in raster MCU order) as a baseline
    single-component JPEG. ``width``/``height`` must tile exactly
    into the given block count. ``restart_interval`` > 0 emits a DRI
    segment and RST0-7 markers every that-many MCUs with DC-predictor
    resets (T.81 B.2.4.4 / E.2.4)."""
    if (width % 8) or (height % 8):
        raise ValueError("fixture encoder requires multiple-of-8 dims")
    if len(coef_blocks) != (width // 8) * (height // 8):
        raise ValueError("block count does not tile the image")

    # ---- gather symbols actually used, build canonical tables ----
    dc_syms: set[int] = set()
    ac_syms: set[int] = set()
    pred = 0
    for n, blk in enumerate(coef_blocks):
        if restart_interval and n and n % restart_interval == 0:
            pred = 0  # mirror the scan pass: RST resets the predictor
        diff = blk[0] - pred
        pred = blk[0]
        dc_syms.add(_magnitude_category(diff))
        zz = [blk[ZIGZAG[i]] for i in range(64)]
        run = 0
        for i in range(1, 64):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.add(0xF0)  # ZRL
                run -= 16
            ac_syms.add((run << 4) | _magnitude_category(v))
            run = 0
        if run:
            ac_syms.add(0x00)  # EOB
    ac_syms.add(0x00)
    dc_bits, dc_vals = _canonical_table(sorted(dc_syms))
    ac_bits, ac_vals = _canonical_table(sorted(ac_syms))
    dc_map = _encode_map(dc_bits, dc_vals)
    ac_map = _encode_map(ac_bits, ac_vals)

    # ---- entropy-coded segment ----
    w = _BitWriter()
    pred = 0
    rst = 0
    for n, blk in enumerate(coef_blocks):
        if restart_interval and n and n % restart_interval == 0:
            w.restart(rst)
            rst = (rst + 1) % 8
            pred = 0
        diff = blk[0] - pred
        pred = blk[0]
        s = _magnitude_category(diff)
        code, ln = dc_map[s]
        w.write(code, ln)
        if s:
            w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        zz = [blk[ZIGZAG[i]] for i in range(64)]
        run = 0
        for i in range(1, 64):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_map[0xF0]
                w.write(code, ln)
                run -= 16
            s = _magnitude_category(v)
            code, ln = ac_map[(run << 4) | s]
            w.write(code, ln)
            w.write(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            code, ln = ac_map[0x00]
            w.write(code, ln)
    scan = w.flush()

    # ---- frame ----
    dqt = _seg(0xDB, bytes([0x00]) + bytes(quant[ZIGZAG[i]] for i in range(64)))
    sof = _seg(
        0xC0,
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),  # 1 component, no subsampling, q-table 0
    )
    dht_dc = _seg(0xC4, bytes([0x00]) + bytes(dc_bits[1:]) + bytes(dc_vals))
    dht_ac = _seg(0xC4, bytes([0x10]) + bytes(ac_bits[1:]) + bytes(ac_vals))
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8"
        + dqt
        + sof
        + dht_dc
        + dht_ac
        + dri
        + sos
        + scan
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------- decode


class _HuffTable:
    """Serial canonical Huffman decoder per T.81 F.2.2.3
    (MINCODE/MAXCODE/VALPTR)."""

    def __init__(self, bits: list[int], huffval: list[int]) -> None:
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, idx = 0, 0
        for length in range(1, 17):
            if bits[length]:
                self.valptr[length] = idx
                self.mincode[length] = code
                code += bits[length]
                idx += bits[length]
                self.maxcode[length] = code - 1
            code <<= 1
        self.huffval = huffval

    def decode(self, reader: "_BitReader") -> int:
        code, length = 0, 0
        while True:
            code = (code << 1) | reader.bit()
            length += 1
            if length > 16:
                raise ValueError("invalid Huffman code (length > 16)")
            if self.maxcode[length] >= code >= self.mincode[length]:
                return self.huffval[
                    self.valptr[length] + code - self.mincode[length]
                ]


class _BitReader:
    """MSB-first reader over the entropy-coded segment; un-stuffs
    0xFF00 and raises ValueError at any marker or end of data."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy data ran out")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("dangling 0xFF in entropy data")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("marker inside entropy data")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def sync_restart(self, expected: int) -> None:
        """Discard pad bits to the byte boundary and consume the RSTm
        marker that must sit there (T.81 E.2.4); ValueError if the
        marker is missing or out of the modulo-8 sequence."""
        self.nbits = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated restart marker")
        if (
            self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (expected & 7)
        ):
            raise ValueError("missing or out-of-order restart marker")
        self.pos += 2

    def receive_extend(self, s: int) -> int:
        """T.81 F.2.2.1: read s magnitude bits and sign-extend."""
        if s == 0:
            return 0
        v = 0
        for _ in range(s):
            v = (v << 1) | self.bit()
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_IDCT_BASIS = None


def _idct_basis():
    """8x8 IDCT basis B with B[u, x] = C(u)/2 * cos((2x+1)u*pi/16);
    pixels = B.T @ F @ B (numpy float64, deterministic IEEE)."""
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import numpy as np

        b = np.empty((8, 8))
        for u in range(8):
            cu = (1 / math.sqrt(2)) if u == 0 else 1.0
            for x in range(8):
                b[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
        _IDCT_BASIS = b
    return _IDCT_BASIS


def idct_pixels(coef_dequant) -> "object":
    """(n, 8, 8) dequantized coefficients -> (n, 8, 8) uint8 pixels
    (IDCT, +128 level shift, clamp) — the shared definition used by
    the decoder AND the pytest round-trip's direct computation."""
    import numpy as np

    b = _idct_basis()
    out = np.einsum("ux,nuv,vy->nxy", b, coef_dequant, b)
    return np.clip(np.round(out) + 128, 0, 255).astype(np.uint8)


def decode_jpeg_pixels(payload: bytes):
    """(width, height, pixels ndarray[h, w] uint8) from a baseline
    single-component JPEG produced by any spec-conforming encoder,
    including streams with restart intervals (DRI + RST0-7).
    ValueError-only corruption contract."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    width = height = None
    comp_qtab = 0
    restart_interval = 0
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG marker stream")
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        seglen = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if seglen < 2 or pos + 2 + seglen > len(payload):
            raise ValueError("segment overruns payload")
        body = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if i + 65 > len(body):
                    raise ValueError("short DQT")
                zz = list(body[i + 1 : i + 65])
                nat = [0] * 64
                for k in range(64):
                    nat[ZIGZAG[k]] = zz[k]
                quant[tq] = nat
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                if i + 17 > len(body):
                    raise ValueError("short DHT")
                bits = [0] + list(body[i + 1 : i + 17])
                n = sum(bits)
                if i + 17 + n > len(body):
                    raise ValueError("short DHT values")
                vals = list(body[i + 17 : i + 17 + n])
                huff[(tc, th)] = _HuffTable(bits, vals)
                i += 17 + n
        elif marker == 0xC0:
            # a single-component SOF0 body is exactly 9 bytes
            # (precision 1 + dims 4 + Nf 1 + 3 per component); an
            # 8-byte body would make the comp_qtab read below overrun
            if len(body) < 9:
                raise ValueError("short SOF0")
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            if body[5] != 1:
                raise ValueError("only single-component baseline supported")
            comp_qtab = body[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise ValueError("non-baseline SOF unsupported")
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("short DRI")
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:
            if len(body) < 4:
                raise ValueError("short SOS")
            if body[0] != 1:
                raise ValueError("only single-component scan supported")
            dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
            break
        # other segments (APPn/COM/...) are skipped
    if width is None or height is None:
        raise ValueError("SOS before SOF0")
    if (0, dc_id) not in huff or (1, ac_id) not in huff:
        raise ValueError("scan references missing Huffman table")
    if comp_qtab not in quant:
        raise ValueError("component references missing quant table")
    dc_tab, ac_tab = huff[(0, dc_id)], huff[(1, ac_id)]
    q = np.array(quant[comp_qtab], dtype=np.int64).reshape(8, 8)

    bw = (width + 7) // 8
    bh = (height + 7) // 8
    nblocks = bw * bh
    reader = _BitReader(payload, pos)
    coefs = np.zeros((nblocks, 8, 8), dtype=np.int64)
    pred = 0
    rst = 0
    for n in range(nblocks):
        if restart_interval and n and n % restart_interval == 0:
            reader.sync_restart(rst)
            rst = (rst + 1) % 8
            pred = 0
        s = dc_tab.decode(reader)
        if s > 11:
            raise ValueError("invalid DC category")
        pred += reader.receive_extend(s)
        zz = [0] * 64
        zz[0] = pred
        k = 1
        while k < 64:
            rs = ac_tab.decode(reader)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC run overruns block")
            zz[k] = reader.receive_extend(s)
            k += 1
        blk = np.zeros(64, dtype=np.int64)
        for i in range(64):
            blk[ZIGZAG[i]] = zz[i]
        coefs[n] = blk.reshape(8, 8)
    pix = idct_pixels(coefs * q)
    img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
    for n in range(nblocks):
        r, c = divmod(n, bw)
        img[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = pix[n]
    return width, height, img[:height, :width]


# ------------------------------------------------------------- fixture


def encode_jpeg_cellgrid(doc_id: int, *, group: int = 6) -> bytes:
    """DC-only baseline JPEG fixture: the SAME 9x8 cell-brightness
    spec as multimodal.encode_bmp_cellgrid (quadratic content-key
    mix + last-column flips), one 8x8 JPEG block per cell (72x64
    image). With the flat q=8 table a DC-only block decodes to the
    flat value ``dc + 128`` exactly, so choosing ``dc = v - 128``
    makes the decoded pixel sum ``64 * sum(v)`` — the same image
    pinned through a THIRD container (BMP: dHash blocks, JPEG:
    entropy-coded pixel sum), all replayable from doc_id arithmetic.
    """
    ckey = doc_id // group

    def cell(i: int, j: int) -> int:
        if i < 8:
            x = ckey * 64 + i * 8 + j
            return (
                ((x * x % 2147483648) * 2654435761 + x * 506952113)
                % 2147483648
            ) % 241
        return 250 if j < doc_id % 4 else 0

    blocks = []
    for j in range(8):  # block rows (cells stacked 8 high)
        for i in range(9):  # block cols
            blk = [0] * 64
            blk[0] = cell(i, j) - 128  # dc; ACs zero
            blocks.append(blk)
    return encode_jpeg_baseline(blocks, 72, 64)


def decode_jpeg_stats(media_df):
    """Per-payload FULL baseline-JPEG pixel decode via
    :func:`decode_jpeg_pixels` (entropy decode -> dequant -> IDCT);
    NULL-row contract (operators/multimodal.py), non-baseline
    payloads included."""
    from advisorydatapipeline_spark.operators.multimodal import (
        map_payloads,
        unknown_row,
    )

    def decode(b: bytes) -> dict:
        w, h, img = decode_jpeg_pixels(b)
        return {"container": "jpeg", "width": w, "height": h,
                "n_blocks": ((w + 7) // 8) * ((h + 7) // 8),
                "pixel_sum": int(img.astype("int64").sum())}

    return map_payloads(
        media_df,
        "media_id long, container string, width int, height int, "
        "n_blocks int, pixel_sum long",
        decode,
        null_row=unknown_row,
    )
