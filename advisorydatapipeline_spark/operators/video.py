"""MJPEG-in-AVI video frame sampling, stdlib+numpy only — the
round-10 composition that upgrades "video decode is lib-bound" to
"INTER-frame video codecs are lib-bound": AVI is a RIFF container
(public spec, the same chunk walk as WAV) and Motion-JPEG frames are
plain baseline JPEGs, which operators/jpeg_codec.py already encodes
and decodes for real. So a genuine video pipeline stage — open the
container, LZW/DCT-decode ONLY the sampled frames, length-skip the
rest — is implementable end to end without any codec library.

- :func:`encode_avi_mjpeg` — structurally valid AVI: RIFF 'AVI ',
  LIST hdrl (56-byte avih MainAVIHeader + LIST strl with a 56-byte
  strh and a BITMAPINFOHEADER strf), LIST movi with one '00dc' chunk
  per frame, each holding a real entropy-coded baseline JPEG.
- :func:`decode_avi_frames` — walks the RIFF tree to movi, iterates
  '00dc' chunks; SAMPLED frames go through the full JPEG entropy
  decode + IDCT; unsampled frames are skipped by chunk size alone
  (their bytes are never parsed — the skip-cost model a real frame
  sampler has, proven by a test that corrupts an unsampled frame).
- :func:`avi_frame_samples` — the Spark operator (a
  ``multimodal.map_payloads`` arm): 1 -> N row expansion to
  (media_id, frame_idx, width, height, pixel_sum).

ValueError-only corruption contract like every codec arm. The IPV1
section below (r14) adds a repo-canonical INTER-frame codec —
I-frames + mod-256 P-frame deltas with the reference-chain decode
loop real — so what remains lib-bound is only full standardized
inter codecs (H.264/VP9/AV1 motion compensation + entropy coding);
lossy audio shipped in r13 (mp3_huffman/mp3_synth/mp3_polyphase).

Reference twin: none — the reference (Idanconley123/advisoryDataPipeline)
contains no media code; this is north-star multimodal surface
(SURVEY.md §2 beyond-reference block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from advisorydatapipeline_spark.operators.jpeg_codec import (
    decode_jpeg_pixels,
    encode_jpeg_baseline,
)
from advisorydatapipeline_spark.operators.multimodal import _mix2, map_payloads

# fixture geometry: 24x16 frames = 3x2 JPEG blocks, DC-only
AVI_FRAME_W, AVI_FRAME_H = 24, 16
AVI_BLOCKS = (AVI_FRAME_W // 8) * (AVI_FRAME_H // 8)  # 6


def frame_block_value(doc_id: int, f: int, b: int) -> int:
    """Flat brightness of block ``b`` in frame ``f`` of doc
    ``doc_id`` — the spec the encoder realizes and the DuckDB oracle
    replays: mix2(doc_id*96 + f*6 + b) % 241."""
    return _mix2(doc_id * 96 + f * AVI_BLOCKS + b) % 241


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""  # RIFF chunks pad to even
    return fourcc + len(body).to_bytes(4, "little") + body + pad


def _list(fourcc: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + body)


def encode_avi_mjpeg(doc_id: int, *, fps: int = 10) -> bytes:
    """Structurally valid MJPEG AVI whose ``8 + doc_id % 5`` frames
    are real DC-only baseline JPEGs (one 8x8 block per cell of the
    3x2 grid, flat value :func:`frame_block_value`, so every sampled
    frame's decoded pixel sum is ``64 * sum(v)`` exactly)."""
    n_frames = 8 + doc_id % 5
    frames = []
    for f in range(n_frames):
        blocks = []
        for b in range(AVI_BLOCKS):
            blk = [0] * 64
            blk[0] = frame_block_value(doc_id, f, b) - 128
            blocks.append(blk)
        frames.append(
            encode_jpeg_baseline(blocks, AVI_FRAME_W, AVI_FRAME_H)
        )

    avih = (
        (1_000_000 // fps).to_bytes(4, "little")  # dwMicroSecPerFrame
        + (0).to_bytes(4, "little")  # dwMaxBytesPerSec
        + (0).to_bytes(4, "little")  # dwPaddingGranularity
        + (0x10).to_bytes(4, "little")  # dwFlags (HASINDEX off)
        + n_frames.to_bytes(4, "little")  # dwTotalFrames
        + (0).to_bytes(4, "little")  # dwInitialFrames
        + (1).to_bytes(4, "little")  # dwStreams
        + (0).to_bytes(4, "little")  # dwSuggestedBufferSize
        + AVI_FRAME_W.to_bytes(4, "little")
        + AVI_FRAME_H.to_bytes(4, "little")
        + b"\x00" * 16  # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + (0).to_bytes(4, "little")  # dwFlags
        + (0).to_bytes(4, "little")  # priority/language
        + (0).to_bytes(4, "little")  # dwInitialFrames
        + (1).to_bytes(4, "little")  # dwScale
        + fps.to_bytes(4, "little")  # dwRate
        + (0).to_bytes(4, "little")  # dwStart
        + n_frames.to_bytes(4, "little")  # dwLength
        + (0).to_bytes(4, "little")  # dwSuggestedBufferSize
        + (0xFFFFFFFF).to_bytes(4, "little")  # dwQuality
        + (0).to_bytes(4, "little")  # dwSampleSize
        + (0).to_bytes(8, "little")  # rcFrame
    )
    strf = (
        (40).to_bytes(4, "little")  # biSize
        + AVI_FRAME_W.to_bytes(4, "little", signed=True)
        + AVI_FRAME_H.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")  # biPlanes
        + (24).to_bytes(2, "little")  # biBitCount
        + b"MJPG"  # biCompression
        + (0).to_bytes(4, "little")  # biSizeImage
        + b"\x00" * 16
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(
        b"movi", b"".join(_chunk(b"00dc", fr) for fr in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_avi_frames(
    payload: bytes, every_n: int = 3
) -> list[tuple[int, int, int, int]]:
    """[(frame_idx, width, height, pixel_sum)] for every
    ``every_n``-th '00dc' frame of an MJPEG AVI. Sampled frames run
    the FULL baseline-JPEG decode; unsampled frames are skipped by
    chunk size (their bytes are never parsed). ValueError-only
    corruption contract — for the frames actually decoded; corrupt
    bytes inside a skipped frame are by design never seen."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    # walk top-level chunks for LIST movi
    pos, movi = 12, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        csize = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if pos + 8 + csize > len(payload):
            raise ValueError("AVI chunk overruns payload")
        if cid == b"LIST" and payload[pos + 8 : pos + 12] == b"movi":
            movi = (pos + 12, pos + 8 + csize)
            break
        pos += 8 + csize + (csize % 2)
    if movi is None:
        raise ValueError("AVI missing movi list")
    out = []
    pos, end = movi
    f = 0
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        csize = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if pos + 8 + csize > end:
            raise ValueError("movi chunk overruns list")
        if cid == b"00dc":
            if f % every_n == 0:
                w, h, img = decode_jpeg_pixels(
                    payload[pos + 8 : pos + 8 + csize]
                )
                out.append(
                    (f, w, h, int(img.astype("int64").sum()))
                )
            f += 1
        pos += 8 + csize + (csize % 2)
    return out


# --- IPV1: repo-canonical INTRA + DELTA (I/P-frame) video codec -------
#
# r13 verdict item 6: retire the "inter-frame video codecs are
# lib-bound" arm the way mp3_huffman retired lossy audio. IPV1 is an
# MPEG-1-GOP-style stand-in, documented and byte-exact: I-frames carry
# the full 8-bit luma plane; P-frames carry the per-pixel mod-256
# delta against the RECONSTRUCTED previous frame (the defining
# inter-frame property: a frame is only decodable through its
# reference chain back to the last I-frame — proven by the pytest
# that corrupts a mid-GOP P-frame and shows the damage propagates to
# the end of the GOP and stops at the next I-frame). Real inter
# codecs add motion vectors + DCT residuals; the reference-chain
# decode loop, GOP structure, and sampling cost model are what this
# codec makes real without codec libraries.

IPV_MAGIC = b"IPV1"
IPV_FRAME_W, IPV_FRAME_H = 24, 16
IPV_BLOCKS = 6  # 3x2 grid of 8x8 luma blocks
IPV_GOP = 4  # I-frame every 4 frames


def ipv_block_value(doc_id: int, f: int, b: int) -> int:
    """Flat luma of block ``b`` in frame ``f`` of doc ``doc_id`` —
    the spec the encoder realizes and the DuckDB oracle replays:
    mix2(doc_id*128 + f*8 + b) % 251."""
    return _mix2(doc_id * 128 + f * 8 + b) % 251


def _ipv_plane(doc_id: int, f: int):
    import numpy as np

    plane = np.empty((IPV_FRAME_H, IPV_FRAME_W), dtype=np.uint8)
    for b in range(IPV_BLOCKS):
        r, c = (b // 3) * 8, (b % 3) * 8
        plane[r : r + 8, c : c + 8] = ipv_block_value(doc_id, f, b)
    return plane


def encode_ipframe_video(doc_id: int, *, gop: int = IPV_GOP) -> bytes:
    """IPV1 stream for ``doc_id``: magic, u16le width/height, u16le
    n_frames (= 8 + doc_id % 5), u8 gop; then per frame one type byte
    (0x49 'I' / 0x50 'P') + w*h payload bytes — raw plane for I,
    mod-256 delta vs the previous RECONSTRUCTED plane for P."""
    import numpy as np

    n_frames = 8 + doc_id % 5
    head = (
        IPV_MAGIC
        + IPV_FRAME_W.to_bytes(2, "little")
        + IPV_FRAME_H.to_bytes(2, "little")
        + n_frames.to_bytes(2, "little")
        + gop.to_bytes(1, "little")
    )
    parts = [head]
    prev = None
    for f in range(n_frames):
        plane = _ipv_plane(doc_id, f)
        if f % gop == 0:
            parts.append(b"\x49" + plane.tobytes())
        else:
            delta = (
                plane.astype(np.int16) - prev.astype(np.int16)
            ) % 256
            parts.append(b"\x50" + delta.astype(np.uint8).tobytes())
        prev = plane
    return b"".join(parts)


def decode_ipframe_video(
    payload: bytes, every_n: int = 1
) -> list[tuple[int, int, int, int, int, int]]:
    """[(frame_idx, is_iframe, width, height, pixel_sum, resid_sum)]
    for every ``every_n``-th frame of an IPV1 stream. EVERY frame's
    bytes are parsed and applied — unlike MJPEG-AVI's length-skip,
    sampling an inter-coded stream still pays the reference chain
    (the honest cost model of I/P codecs). ``resid_sum`` is the raw
    delta-byte sum of a P-frame (0 for I-frames): a direct probe of
    the wire bytes, while ``pixel_sum`` probes the reconstruction.
    ValueError-only corruption contract."""
    import numpy as np

    if payload[:4] != IPV_MAGIC:
        raise ValueError("not an IPV1 payload")
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    if len(payload) < 11:
        raise ValueError("IPV1 header truncated")
    w = int.from_bytes(payload[4:6], "little")
    h = int.from_bytes(payload[6:8], "little")
    n_frames = int.from_bytes(payload[8:10], "little")
    gop = payload[10]
    if not (w and h and gop):
        raise ValueError("IPV1 zero dimension or gop")
    fsz = 1 + w * h
    if len(payload) != 11 + n_frames * fsz:
        raise ValueError("IPV1 payload length mismatch")
    out = []
    prev = None
    pos = 11
    for f in range(n_frames):
        ftype = payload[pos]
        body = np.frombuffer(
            payload[pos + 1 : pos + fsz], dtype=np.uint8
        ).astype(np.int64)
        pos += fsz
        if ftype == 0x49:
            cur = body
            resid = 0
        elif ftype == 0x50:
            if prev is None:
                raise ValueError("IPV1 P-frame before any I-frame")
            cur = (prev + body) % 256
            resid = int(body.sum())
        else:
            raise ValueError(f"IPV1 unknown frame type {ftype:#x}")
        if (f % gop == 0) != (ftype == 0x49):
            raise ValueError("IPV1 frame type disagrees with GOP")
        if f % every_n == 0:
            out.append(
                (f, int(ftype == 0x49), w, h, int(cur.sum()), resid)
            )
        prev = cur
    return out


def ipframe_frame_samples(
    media_df: DataFrame, *, every_n: int = 3
) -> DataFrame:
    """Frame sampling over IPV1 payloads via
    :func:`decode_ipframe_video`; skip contract
    (operators/multimodal.py)."""

    def decode(b: bytes) -> list[dict]:
        return [
            {"frame_idx": f, "is_iframe": isi, "width": w, "height": h,
             "pixel_sum": ps, "resid_sum": rs}
            for f, isi, w, h, ps, rs in decode_ipframe_video(b, every_n)
        ]

    return map_payloads(
        media_df,
        "media_id long, frame_idx int, is_iframe int, width int, "
        "height int, pixel_sum long, resid_sum long",
        decode,
    )


def avi_frame_samples(
    media_df: DataFrame, *, every_n: int = 3
) -> DataFrame:
    """1 -> N frame-sample expansion over MJPEG-AVI payloads via
    :func:`decode_avi_frames`; skip contract
    (operators/multimodal.py)."""

    def decode(b: bytes) -> list[dict]:
        return [
            {"frame_idx": f, "width": w, "height": h, "pixel_sum": ps}
            for f, w, h, ps in decode_avi_frames(b, every_n)
        ]

    return map_payloads(
        media_df,
        "media_id long, frame_idx int, width int, height int, "
        "pixel_sum long",
        decode,
    )
