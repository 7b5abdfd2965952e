"""FLAC subset codec (xiph.org FLAC format spec / RFC 9639), pure
stdlib — extends the multimodal codec family from uncompressed audio
(WAV, operators/multimodal.py) to COMPRESSED LOSSLESS audio, the
last stdlib-feasible audio arm (lossy MP3/AAC synthesis filterbanks
remain lib-bound; the mp3_frame_stats header walk covers their
container layer).

Implemented both directions over the spec's fixed-predictor profile:

- :func:`encode_flac` — a real encoder: fLaC magic, STREAMINFO
  metadata block (bit-packed 34-byte body), per-frame headers (14-bit
  sync, blocking strategy, block-size/sample-rate codes, UTF-8-style
  coded frame number, CRC-8), FIXED-predictor subframes order 0-2
  (warm-up samples verbatim, residuals from the spec's difference
  predictors), zigzag-folded Rice coding (partition order 0), byte
  alignment, frame CRC-16.
- :func:`decode_flac` — the matching decoder: STREAMINFO parse,
  frame-header parse with CRC-8 VERIFICATION, subframe type
  dispatch (CONSTANT / VERBATIM / FIXED 0-4), Rice residual decode,
  fixed-predictor reconstruction (the exact integer recurrences, so
  lossless by construction), CRC-16 VERIFICATION over the whole
  frame. Both CRCs use the spec polynomials (0x07, 0x8005) — a
  single flipped payload byte fails a checksum, which is the
  corruption detector behind the ValueError-only contract.

Correctness strategy (codec-arm pattern, no audio library needed):
the samples are synthesized from doc_id arithmetic (the house 2^31
mix), the encoder compresses them, the decoder reconstructs them
bit-exactly (lossless), and the registry entry's DuckDB oracle
replays the sample statistics straight from the generating formula —
so the gate pins the WHOLE encode->decode chain: any Rice/predictor/
bit-packing defect changes the decoded sums. The pytest round-trip
additionally covers arbitrary sample vectors and every-byte
corruption (CRC must catch or the decode must still ValueError).

Reference twin: none — the reference (Idanconley123/advisoryDataPipeline)
contains no media code; north-star multimodal surface (SURVEY.md §2
beyond-reference block). Public spec: RFC 9639 / xiph.org FLAC.
"""

from __future__ import annotations

FLAC_BLOCK = 256  # one frame = 256 samples (block-size code 0b1000)
FLAC_BPS = 16
_SYNC = 0b11111111111110

# fixed-predictor coefficients per order (RFC 9639 §
# "Fixed predictors"): residual = s[i] - prediction
_FIXED = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

# an LPC subframe mode for the order cycle: ("lpc", qlp_coefs,
# shift, precision) — prediction is (sum coef[j]*s[i-1-j]) >> shift
# with ARITHMETIC shift (the spec's rule; Python's >> on negatives
# matches). [60, -29] / 2^5 is a real quantized near-order-2 filter.
LPC2 = ("lpc", [60, -29], 5, 12)


def crc8(data: bytes) -> int:
    """CRC-8 with polynomial x^8+x^2+x^1+x^0 (0x07), init 0 — the
    FLAC frame-header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    """CRC-16 with polynomial x^16+x^15+x^2+x^0 (0x8005), init 0 —
    the FLAC whole-frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _BitWriter:
    """MSB-first bit packer (no byte stuffing in FLAC)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        if length and not 0 <= value < (1 << length):
            raise ValueError("bit value out of range")
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                self.acc, self.n = 0, 0

    def write_signed(self, value: int, length: int) -> None:
        self.write(value & ((1 << length) - 1), length)

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a one bit
        for _ in range(q):
            self.write(0, 1)
        self.write(1, 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        if self.n:
            raise ValueError("unaligned bit buffer")
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader over a byte range."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bytepos = pos
        self.bitpos = 0

    def read(self, length: int) -> int:
        v = 0
        for _ in range(length):
            if self.bytepos >= len(self.data):
                raise ValueError("bitstream exhausted")
            bit = (self.data[self.bytepos] >> (7 - self.bitpos)) & 1
            v = (v << 1) | bit
            self.bitpos += 1
            if self.bitpos == 8:
                self.bitpos = 0
                self.bytepos += 1
        return v

    def read_signed(self, length: int) -> int:
        v = self.read(length)
        return v - (1 << length) if v >= (1 << (length - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.read(1):
                return q
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway unary code")

    def align(self) -> None:
        if self.bitpos:
            self.bitpos = 0
            self.bytepos += 1


def _zigzag(v: int) -> int:
    """Signed residual -> unsigned Rice symbol (RFC 9639 zigzag)."""
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _rice_param(residuals: list[int]) -> int:
    """Smallest k whose total Rice length is locally minimal — the
    standard mean-based estimate, deterministic."""
    if not residuals:
        return 0
    mean = sum(abs(r) for r in residuals) // len(residuals) + 1
    k = 0
    while (1 << k) < mean and k < 14:
        k += 1
    return k


def _utf8_frame_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index for fixed
    blocking). Subset: supports 0..2^31-1 (7 bytes max)."""
    if n < 0x80:
        return bytes([n])
    out = []
    # find byte count: payload bits = 7 - nbytes + (nbytes - 1) * 6
    for nb in range(2, 8):
        if n < (1 << (7 - nb + (nb - 1) * 6)):
            nbytes = nb
            break
    else:
        raise ValueError("frame number too large")
    shift = (nbytes - 1) * 6
    lead = (0xFF << (8 - nbytes)) & 0xFF
    out.append(lead | (n >> shift))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (i * 6)) & 0x3F))
    return bytes(out)


def _read_utf8_number(rd: _BitReader) -> int:
    b0 = rd.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad UTF-8-coded frame number")
    v = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        c = rd.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def encode_flac(samples: list[int], *, order_cycle=(0, 1, 2)) -> bytes:
    """Encode 16-bit mono samples into a FLAC stream, FLAC_BLOCK
    samples per frame (the final frame may be short, using the
    8-bit block-size-minus-1 header form). Each ``order_cycle`` slot
    is either a FIXED predictor order (int 0-4) or an LPC mode tuple
    like :data:`LPC2` (quantized coefficients + shift + precision);
    warm-up samples verbatim, Rice partition order 0 either way."""
    for s in samples:
        if not -32768 <= s <= 32767:
            raise ValueError("sample out of 16-bit range")
    out = bytearray(b"fLaC")
    # STREAMINFO: last-metadata flag + type 0, length 34
    out += bytes([0x80, 0, 0, 34])
    si = _BitWriter()
    si.write(FLAC_BLOCK, 16)  # min block size
    si.write(FLAC_BLOCK, 16)  # max block size
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(44100, 20)
    si.write(0, 3)  # channels - 1
    si.write(FLAC_BPS - 1, 5)
    si.write(len(samples), 36)
    for _ in range(16):
        si.write(0, 8)  # md5 unknown
    out += si.bytes()

    nframes = (len(samples) + FLAC_BLOCK - 1) // FLAC_BLOCK
    for f in range(nframes):
        blk = samples[f * FLAC_BLOCK : (f + 1) * FLAC_BLOCK]
        mode = order_cycle[f % len(order_cycle)]
        lpc = isinstance(mode, tuple)
        if lpc:
            _, lpc_coef, lpc_shift, lpc_prec = mode
            order = len(lpc_coef)
        else:
            order = mode
        if order >= len(blk):
            lpc, order = False, 0
        hdr = _BitWriter()
        hdr.write(_SYNC, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocking
        short = len(blk) != FLAC_BLOCK
        hdr.write(0b0110 if short else 0b1000, 4)  # block size code
        hdr.write(0b1001, 4)  # 44.1 kHz
        hdr.write(0b0000, 4)  # mono
        hdr.write(0b100, 3)  # 16 bps
        hdr.write(0, 1)  # reserved
        hdr.align()
        hbytes = bytearray(hdr.bytes())
        hbytes += _utf8_frame_number(f)
        if short:
            hbytes.append(len(blk) - 1)
        hbytes.append(crc8(bytes(hbytes)))

        body = _BitWriter()
        # subframe header: pad bit, type (FIXED|order or LPC
        # 1xxxxx = 32 + order - 1), wasted 0
        body.write(0, 1)
        body.write((0b100000 | (order - 1)) if lpc else (0b001000 | order), 6)
        body.write(0, 1)
        for s in blk[:order]:  # warm-up
            body.write_signed(s, FLAC_BPS)
        if lpc:
            body.write(lpc_prec - 1, 4)
            body.write(lpc_shift, 5)
            for c in lpc_coef:
                body.write_signed(c, lpc_prec)
        res = []
        for i in range(order, len(blk)):
            if lpc:
                pred = sum(
                    c * blk[i - 1 - j] for j, c in enumerate(lpc_coef)
                ) >> lpc_shift
            else:
                pred = sum(
                    c * blk[i - 1 - j]
                    for j, c in enumerate(_FIXED[order])
                )
            res.append(blk[i] - pred)
        body.write(0b00, 2)  # residual method: 4-bit Rice
        body.write(0, 4)  # partition order 0
        k = _rice_param(res)
        body.write(k, 4)
        for r in res:
            u = _zigzag(r)
            body.write_unary(u >> k)
            if k:
                body.write(u & ((1 << k) - 1), k)
        body.align()
        frame = bytes(hbytes) + body.bytes()
        out += frame + crc16(frame).to_bytes(2, "big")
    return bytes(out)


def decode_flac(payload: bytes):
    """(sample_rate, n_frames, samples) from a FLAC stream in the
    encoder's profile (mono, 16 bps, CONSTANT/VERBATIM/FIXED/LPC
    subframes, Rice partition order 0-n). CRC-8 and CRC-16 are
    VERIFIED. ValueError-only corruption contract."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    sample_rate = None
    total = None
    # metadata blocks
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata")
        last = payload[pos] & 0x80
        btype = payload[pos] & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        if pos + 4 + blen > len(payload):
            raise ValueError("metadata overruns payload")
        if btype == 0:
            if blen != 34:
                raise ValueError("bad STREAMINFO length")
            rd = _BitReader(payload, pos + 4)
            rd.read(16)
            rd.read(16)
            rd.read(24)
            rd.read(24)
            sample_rate = rd.read(20)
            if rd.read(3) != 0:
                raise ValueError("only mono supported")
            if rd.read(5) + 1 != FLAC_BPS:
                raise ValueError("only 16 bps supported")
            total = rd.read(36)
        pos += 4 + blen
        if last:
            break
    if sample_rate is None:
        raise ValueError("missing STREAMINFO")

    samples: list[int] = []
    n_frames = 0
    while pos < len(payload) and len(samples) < (total or 1 << 60):
        frame_start = pos
        rd = _BitReader(payload, pos)
        if rd.read(14) != _SYNC:
            raise ValueError("lost frame sync")
        if rd.read(1) != 0:
            raise ValueError("reserved bit set")
        rd.read(1)  # blocking strategy
        bs_code = rd.read(4)
        sr_code = rd.read(4)
        chan = rd.read(4)
        if chan != 0:
            raise ValueError("only mono frames supported")
        bps_code = rd.read(3)
        if bps_code != 0b100:
            raise ValueError("only 16-bps frames supported")
        if rd.read(1) != 0:
            raise ValueError("reserved bit set")
        _read_utf8_number(rd)
        if bs_code == 0b0110:
            blocksize = rd.read(8) + 1
        elif bs_code == 0b0111:
            blocksize = rd.read(16) + 1
        elif bs_code == 0b0001:
            blocksize = 192
        elif 0b0010 <= bs_code <= 0b0101:
            blocksize = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            blocksize = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved block-size code")
        if sr_code in (0b1100,):
            rd.read(8)
        elif sr_code in (0b1101, 0b1110):
            rd.read(16)
        elif sr_code == 0b1111:
            raise ValueError("invalid sample-rate code")
        rd.align()
        hdr_end = rd.bytepos
        if hdr_end >= len(payload):
            raise ValueError("truncated frame header")
        if crc8(payload[frame_start:hdr_end]) != payload[hdr_end]:
            raise ValueError("frame-header CRC-8 mismatch")
        rd = _BitReader(payload, hdr_end + 1)

        # subframe
        if rd.read(1) != 0:
            raise ValueError("subframe pad bit set")
        stype = rd.read(6)
        wasted = rd.read(1)
        if wasted:
            raise ValueError("wasted bits unsupported")
        blk: list[int]
        if stype == 0:  # CONSTANT
            v = rd.read_signed(FLAC_BPS)
            blk = [v] * blocksize
        elif stype == 1:  # VERBATIM
            blk = [rd.read_signed(FLAC_BPS) for _ in range(blocksize)]
        elif 8 <= stype <= 12 or stype >= 32:  # FIXED / LPC
            if stype >= 32:
                order = stype - 31
                if order > blocksize:
                    raise ValueError("predictor order exceeds block")
                blk = [rd.read_signed(FLAC_BPS) for _ in range(order)]
                prec = rd.read(4) + 1
                if prec == 16:
                    raise ValueError("invalid qlp precision code")
                shift = rd.read_signed(5)
                if shift < 0:
                    raise ValueError("negative qlp shift")
                coef = [rd.read_signed(prec) for _ in range(order)]
            else:
                order = stype - 8
                if order > blocksize:
                    raise ValueError("predictor order exceeds block")
                blk = [rd.read_signed(FLAC_BPS) for _ in range(order)]
                prec = shift = None
                coef = _FIXED[order]
            if rd.read(2) != 0b00:
                raise ValueError("only 4-bit Rice supported")
            porder = rd.read(4)
            nres = blocksize - order
            idx = 0
            for p in range(1 << porder):
                k = rd.read(4)
                if k == 0b1111:
                    raise ValueError("escape codes unsupported")
                n_in_part = (blocksize >> porder) - (
                    order if p == 0 else 0
                )
                if n_in_part < 0:
                    raise ValueError("bad partition layout")
                for _ in range(n_in_part):
                    if idx >= nres:
                        raise ValueError("residual overrun")
                    q = rd.read_unary()
                    u = (q << k) | (rd.read(k) if k else 0)
                    r = _unzigzag(u)
                    pred = sum(
                        c * blk[len(blk) - 1 - j]
                        for j, c in enumerate(coef)
                    )
                    if stype >= 32:
                        pred >>= shift
                    v = pred + r
                    if not -32768 <= v <= 32767:
                        raise ValueError("reconstructed sample overflow")
                    blk.append(v)
                    idx += 1
            if idx != nres:
                raise ValueError("residual underrun")
        else:
            raise ValueError("reserved subframe type")
        rd.align()
        if rd.bytepos + 2 > len(payload):
            raise ValueError("truncated frame CRC")
        if crc16(payload[frame_start : rd.bytepos]) != int.from_bytes(
            payload[rd.bytepos : rd.bytepos + 2], "big"
        ):
            raise ValueError("frame CRC-16 mismatch")
        pos = rd.bytepos + 2
        samples.extend(blk)
        n_frames += 1
    # STREAMINFO total_samples == 0 means "unknown" per spec — no
    # count to verify against.
    if total and len(samples) != total:
        raise ValueError("sample count disagrees with STREAMINFO")
    return sample_rate, n_frames, samples


# ------------------------------------------------------------- fixture

FLAC_FIXTURE_N = 600  # 3 frames: 256 + 256 + 88 (full + short forms)


def flac_fixture_samples(doc_id: int) -> list[int]:
    """600 deterministic 11-bit samples from the house 2^31 mix —
    the SAME formula the DuckDB oracle replays, so the gate pins the
    whole encode->decode chain (3 frames cycle fixed-predictor
    orders 0, 1, 2; the short final frame takes the 8-bit
    block-size-minus-1 header form)."""
    out = []
    for i in range(FLAC_FIXTURE_N):
        x = (doc_id * 1024 + i) % 2147483648
        out.append((x * 2654435761 % 2147483648) % 2048 - 1024)
    return out


def encode_flac_fixture(doc_id: int) -> bytes:
    """FLAC stream for the fixture samples; every 7th doc gets byte
    47 flipped — the first frame's header CRC-8 itself (header spans
    bytes 42-47: 4 fixed bytes + 1-byte UTF-8 frame number + CRC-8),
    so the header fields parse clean and the checksum comparison is
    what rejects the stream: the planted corruption arm exercises
    the CRC-8 verification path specifically."""
    b = encode_flac(flac_fixture_samples(doc_id), order_cycle=(0, LPC2, 2))
    if doc_id % 7 == 0:
        ba = bytearray(b)
        ba[47] ^= 0xFF
        b = bytes(ba)
    return b


def decode_flac_stats(media_df):
    """Per-payload FULL FLAC decode via :func:`decode_flac` (frame
    walk, CRC verification, Rice decode, fixed-predictor
    reconstruction); NULL-row contract (operators/multimodal.py)."""
    from advisorydatapipeline_spark.operators.multimodal import (
        map_payloads,
        unknown_row,
    )

    def decode(b: bytes) -> dict:
        sr, nf, samples = decode_flac(b)
        return {"container": "flac", "sample_rate": sr, "n_frames": nf,
                "n_samples": len(samples), "sample_sum": sum(samples),
                "sample_sqsum": sum(s * s for s in samples)}

    return map_payloads(
        media_df,
        "media_id long, container string, sample_rate int, "
        "n_frames int, n_samples long, sample_sum long, "
        "sample_sqsum long",
        decode,
        null_row=unknown_row,
    )
