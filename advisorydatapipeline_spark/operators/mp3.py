"""MPEG-1 Layer III (MP3) frame-header walk, stdlib only — the
round-11 lossy-audio header arm (r10 verdict stretch item 7),
mirroring the image side's ``jpeg_header_stats``: no synthesis
filterbank, no Huffman decode of the audio payload — the walker
parses every 4-byte frame header (sync, version/layer, bitrate and
samplerate table lookups, padding), computes each frame's byte
length from the spec formula ``144 * bitrate / samplerate + padding``
(ISO/IEC 11172-3 §2.4.3.1), skips to the next frame, and aggregates
per-stream stats. This narrows the "lossy audio is lib-bound" scope
note in operators/multimodal.py to exactly the synthesis filterbank:
container + framing + timing (duration = frames * 1152 samples) are
now real, tested code.

Also handles the ID3v2 prefix tag real-world MP3s carry (10-byte
header + syncsafe 28-bit length, informal id3.org spec) — skipped,
with its length reported.

Scope (documented, ValueError on anything outside it): MPEG-1
Layer III only, no CRC streams, no free-format bitrate, constant
samplerate across frames (the overwhelmingly common case; VBR
BITRATE is fully supported and reported). ValueError-only corruption
contract like every codec arm.

Reference twin: none — the reference (Idanconley123/advisoryDataPipeline)
contains no media code; this is north-star multimodal surface
(SURVEY.md §2 beyond-reference block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# MPEG-1 Layer III bitrate table, kbps, by 4-bit header index.
# Index 0 is "free format" (unsupported here), 15 is forbidden.
MP3_BITRATES_V1L3 = [
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]
# MPEG-1 samplerate table by 2-bit index; index 3 is reserved.
MP3_SAMPLERATES_V1 = [44100, 48000, 32000]
SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def mp3_frame_length(bitrate_kbps: int, sample_rate: int, padding: int) -> int:
    """ISO/IEC 11172-3 §2.4.3.1 Layer II/III frame size in bytes."""
    return 144 * bitrate_kbps * 1000 // sample_rate + padding


def encode_mp3_stream(doc_id: int) -> bytes:
    """Deterministic MP3 fixture, fully replayable from doc_id
    arithmetic (the shared multimodal fixture contract):

    - ``doc_id % 4 == 1``: ID3v2.4 prefix tag with a
      ``doc_id % 50``-byte body (syncsafe length)
    - samplerate index ``doc_id % 3``; ``3 + doc_id % 5`` frames
    - ``doc_id % 7 == 0``: CBR at index 9 (128 kbps), no padding;
      otherwise VBR with per-frame index ``1 + (doc_id + f) % 14``
      and padding bit ``(doc_id + f) % 2``
    - mono (channel mode 0b11) when doc_id is odd, stereo otherwise

    Frame bodies are zero fill — the walker skips them by computed
    length, which is exactly what a header walk must prove."""
    out = bytearray()
    if doc_id % 4 == 1:
        body = doc_id % 50  # < 128: one syncsafe byte suffices
        out += b"ID3" + bytes([4, 0, 0, 0, 0, 0, body]) + bytes(body)
    sr_idx = doc_id % 3
    sr = MP3_SAMPLERATES_V1[sr_idx]
    cbr = doc_id % 7 == 0
    mono = doc_id % 2 == 1
    for f in range(3 + doc_id % 5):
        br_idx = 9 if cbr else 1 + (doc_id + f) % 14
        pad = 0 if cbr else (doc_id + f) % 2
        flen = mp3_frame_length(MP3_BITRATES_V1L3[br_idx], sr, pad)
        hdr = bytes(
            [
                0xFF,
                0xFB,  # sync + MPEG-1 (11) + Layer III (01) + no CRC (1)
                (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                0xC0 if mono else 0x00,  # channel mode, rest zero
            ]
        )
        out += hdr + bytes(flen - 4)
    return bytes(out)


def parse_mp3_stream(payload: bytes) -> dict:
    """Walk an MP3 stream and return its header-level stats:
    ``sample_rate, n_frames, duration_samples, bitrate_sum_kbps,
    is_vbr, mono, id3_len, byte_len``. ValueError on anything that
    is not a clean MPEG-1 Layer III stream (documented scope in the
    module header); frames must tile the payload exactly."""
    try:
        return _parse_mp3_stream_checked(payload)
    except IndexError as exc:  # pragma: no cover - defensive
        # unreachable by construction (every read is bounds-checked
        # first), but the ValueError-only contract must hold even if
        # a guard is wrong
        raise ValueError(f"corrupt MP3 payload: {exc}") from exc


def _parse_mp3_stream_checked(payload: bytes) -> dict:
    pos = 0
    id3_len = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        size = 0
        for b in payload[6:10]:
            if b & 0x80:
                raise ValueError("ID3v2 length byte not syncsafe")
            size = (size << 7) | b
        id3_len = 10 + size
        if id3_len > len(payload):
            raise ValueError("ID3v2 tag overruns payload")
        pos = id3_len
    sample_rate = None
    mono = None
    n_frames = 0
    bitrate_sum = 0
    bitrates: set[int] = set()
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated frame header")
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("frame sync lost")
        if (b1 >> 3) & 0x03 != 0b11:
            raise ValueError("not MPEG-1")
        if (b1 >> 1) & 0x03 != 0b01:
            raise ValueError("not Layer III")
        if b1 & 0x01 != 1:
            raise ValueError("CRC-protected streams unsupported")
        br_idx = b2 >> 4
        if br_idx == 0:
            raise ValueError("free-format bitrate unsupported")
        if br_idx == 15:
            raise ValueError("forbidden bitrate index")
        sr_idx = (b2 >> 2) & 0x03
        if sr_idx == 3:
            raise ValueError("reserved samplerate index")
        sr = MP3_SAMPLERATES_V1[sr_idx]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise ValueError("samplerate change mid-stream unsupported")
        frame_mono = (b3 >> 6) == 0b11
        if mono is None:
            mono = frame_mono
        elif frame_mono != mono:
            raise ValueError("channel mode change mid-stream")
        pad = (b2 >> 1) & 0x01
        kbps = MP3_BITRATES_V1L3[br_idx]
        flen = mp3_frame_length(kbps, sr, pad)
        if pos + flen > len(payload):
            raise ValueError("frame overruns payload")
        n_frames += 1
        bitrate_sum += kbps
        bitrates.add(kbps)
        pos += flen
    if n_frames == 0:
        raise ValueError("no MP3 frames")
    return {
        "sample_rate": sample_rate,
        "n_frames": n_frames,
        "duration_samples": n_frames * SAMPLES_PER_FRAME,
        "bitrate_sum_kbps": bitrate_sum,
        "is_vbr": len(bitrates) > 1,
        "mono": mono,
        "id3_len": id3_len,
        "byte_len": len(payload),
    }


def decode_mp3_stats(media_df: DataFrame) -> DataFrame:
    """Per-payload MP3 stream stats via :func:`parse_mp3_stream`;
    NULL-row contract that keeps ``byte_len``
    (operators/multimodal.py)."""
    from advisorydatapipeline_spark.operators.multimodal import (
        map_payloads,
        unknown_row_with_len,
    )

    return map_payloads(
        media_df,
        "media_id long, container string, sample_rate int, "
        "n_frames long, duration_samples long, bitrate_sum_kbps long, "
        "is_vbr boolean, mono boolean, id3_len long, byte_len long",
        lambda b: {**parse_mp3_stream(b), "container": "mp3"},
        null_row=unknown_row_with_len,
    )
