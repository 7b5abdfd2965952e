"""Multimodal plumbing tests: Arrow batch shapes, payload metadata and
the codec-free decode arms."""

from __future__ import annotations

import hashlib

from advisorydatapipeline_spark.operators.multimodal import (
    attach_payload,
    extract_metadata,
    sample_frames,
)


def _media(spark):
    df = spark.createDataFrame(
        [(0, "image bytes here"), (1, "audio bytes"), (2, "video payload x")],
        "doc_id long, text string",
    )
    return attach_payload(df, "doc_id", "text")


def test_attach_payload_types(spark):
    m = _media(spark)
    assert dict(m.dtypes) == {
        "media_id": "bigint", "media_type": "string", "payload": "binary",
    }
    types = {r.media_id: r.media_type for r in m.collect()}
    assert types == {0: "image", 1: "audio", 2: "video"}


def test_metadata_matches_python_hash(spark):
    out = {r.media_id: r for r in extract_metadata(_media(spark)).collect()}
    expect = hashlib.md5(b"image bytes here").hexdigest()
    assert out[0].content_hash == expect
    assert out[0].byte_len == len(b"image bytes here")


def test_sample_frames_real_path_decodes_repo_containers(spark):
    """IPV1 and MJPEG-AVI payloads decode for real; foreign
    containers, NULL payloads and non-video rows contribute zero
    rows."""
    from advisorydatapipeline_spark.operators.video import (
        decode_avi_frames,
        decode_ipframe_video,
        encode_avi_mjpeg,
        encode_ipframe_video,
    )

    rows = [
        (1, "video", bytearray(encode_ipframe_video(3))),
        (2, "video", bytearray(encode_avi_mjpeg(4))),
        (3, "video", bytearray(b"\x00\x00\x01\xba h264-ish junk")),
        (4, "image", bytearray(encode_ipframe_video(5))),
        (5, "video", None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    got = sample_frames(df, every_n=3).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == {1, 2}
    # frame hashes are the md5 of the decoded scalar signatures
    want1 = {
        (f, hashlib.md5(repr(tuple(rest)).encode()).hexdigest())
        for f, *rest in decode_ipframe_video(
            bytes(rows[0][2]), 3
        )
    }
    assert {(r.frame_idx, r.frame_hash) for r in by_id[1]} == want1
    want2 = {
        (f, hashlib.md5(repr(tuple(rest)).encode()).hexdigest())
        for f, *rest in decode_avi_frames(bytes(rows[1][2]), 3)
    }
    assert {(r.frame_idx, r.frame_hash) for r in by_id[2]} == want2


def test_bmp_encode_decode_roundtrip():
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w, h in [(1, 1), (4, 2), (35, 17), (33, 1)]:
        b = encode_bmp(w, h, 42)
        assert decode_bmp(b) == (w, h, 24)
        # file size field equals actual length (row padding correct)
        assert int.from_bytes(b[2:6], "little") == len(b)
        # rows pad to 4-byte boundaries
        row_bytes = ((w * 3 + 3) // 4) * 4
        assert len(b) == 54 + row_bytes * h


def test_wav_encode_decode_roundtrip():
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    for rate, n in [(8000, 50), (44100, 549), (16000, 1)]:
        b = encode_wav(rate, n, 17)
        assert decode_wav(b) == (rate, n, 16)
        assert len(b) == 44 + n * 2


def test_wav_decode_walks_extra_chunks():
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    b = encode_wav(22050, 10)
    # splice a LIST chunk between fmt and data; parse must skip it
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    spliced = b[:36] + extra + b[36:]
    # fix RIFF size field
    spliced = (
        spliced[:4]
        + (len(spliced) - 8).to_bytes(4, "little")
        + spliced[8:]
    )
    assert decode_wav(spliced) == (22050, 10, 16)


def test_decode_rejects_garbage():
    import pytest

    from advisorydatapipeline_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
    )

    with pytest.raises(ValueError):
        decode_bmp(b"nope")
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")


def test_decode_media_headers_mixed(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_media_headers,
        encode_bmp,
        encode_wav,
    )

    rows = [
        (1, encode_bmp(8, 4, 9)),
        (2, encode_wav(16000, 100)),
        (3, b"not media at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_media_headers(df).collect()}
    assert (out[1].container, out[1].width, out[1].height) == ("bmp", 8, 4)
    assert (out[2].container, out[2].sample_rate, out[2].n_samples) == (
        "wav",
        16000,
        100,
    )
    assert out[3].container == "unknown" and out[3].width is None
    assert out[4].container == "unknown" and out[4].byte_len == 0


def test_png_roundtrip_all_filters():
    """encode_png cycles the row filter through all five PNG filter
    types whenever height >= 5 — the decode must reverse each one to
    land on the analytically-known gradient pixel sum."""
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    for w, h, seed in [(4, 5, 0), (7, 6, 3), (16, 9, 42), (1, 1, 96)]:
        expect = sum(
            (seed + 7 * x + 13 * y + 29 * c) % 256
            for x in range(w)
            for y in range(h)
            for c in range(3)
        )
        got = decode_png(encode_png(w, h, seed))
        assert got == (w, h, 8, 2, expect), (w, h, seed, got)


def test_png_rejects_corrupt_payloads():
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    with _pytest.raises(ValueError):
        decode_png(b"not a png")
    good = encode_png(4, 4, 1)
    # EVERY corrupt-body failure must surface as ValueError — the
    # mapInPandas skip handlers catch exactly that, so a broader
    # exception class here would mean one bad object kills the scan.
    with _pytest.raises(ValueError):
        decode_png(good[:40])  # truncated IDAT -> zlib.error inside
    with _pytest.raises(ValueError):
        decode_png(good[:20])  # short IHDR -> struct/IndexError inside
    with _pytest.raises(ValueError):
        # valid signature + good IHDR + corrupted deflate stream
        # (byte 45 is inside the IDAT data) -> zlib.error inside
        corrupt = bytearray(good)
        corrupt[45] ^= 0xFF
        decode_png(bytes(corrupt))


def test_png_decode_stats_and_header_branch(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_media_headers,
        decode_png_stats,
        encode_png,
    )

    rows = [(1, encode_png(5, 3, 7)), (2, b"junk"), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_png_stats(df).collect()}
    assert out[1].container == "png" and (out[1].width, out[1].height) == (5, 3)
    assert out[1].pixel_sum == sum(
        (7 + 7 * x + 13 * y + 29 * c) % 256
        for x in range(5) for y in range(3) for c in range(3)
    )
    assert out[2].container == "unknown" and out[2].pixel_sum is None
    assert out[3].container == "unknown"
    hdr = {r.media_id: r for r in decode_media_headers(df).collect()}
    assert (hdr[1].container, hdr[1].width, hdr[1].height) == ("png", 5, 3)


def test_parse_png_header_fixed_offset():
    """The header arm reads IHDR at its spec-mandated fixed offset —
    O(1), no inflate — and agrees with the full decode."""
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
        parse_png_header,
    )

    png = encode_png(9, 4, 11)
    assert parse_png_header(png) == decode_png(png)[:4] == (9, 4, 8, 2)
    with _pytest.raises(ValueError):
        parse_png_header(b"not a png")
    with _pytest.raises(ValueError):
        parse_png_header(png[:12] + b"XXXX" + png[16:])  # IHDR not first
    with _pytest.raises(ValueError):
        parse_png_header(png[:20])  # truncated IHDR


def test_corrupt_png_body_yields_null_row_not_crash(spark):
    """ADVICE r6 (medium): a payload with a VALID PNG signature but a
    corrupt body (truncated IDAT / short IHDR / garbage deflate) must
    produce a NULL-stat row in both mapInPandas handlers, not kill
    the scan."""
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_media_headers,
        decode_png_stats,
        encode_png,
    )

    good = encode_png(4, 4, 1)
    corrupt_idat = bytearray(good)
    corrupt_idat[45] ^= 0xFF
    rows = [
        (1, good),
        (2, good[:40]),            # truncated mid-chunk
        (3, good[:20]),            # short IHDR
        (4, bytes(corrupt_idat)),  # garbage deflate behind good IHDR
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_png_stats(df).collect()}
    assert out[1].container == "png" and out[1].pixel_sum is not None
    for mid in (2, 3, 4):
        assert out[mid].container == "unknown", mid
        assert out[mid].pixel_sum is None, mid
    hdr = {r.media_id: r for r in decode_media_headers(df).collect()}
    assert hdr[1].container == "png"
    # 2 and 4 still carry a complete fixed-offset IHDR, so the cheap
    # header arm legitimately reports dimensions; 3's truncated IHDR
    # must fall through to the unknown row, not raise.
    assert hdr[3].container == "unknown" and hdr[3].width is None


def test_gif_roundtrip_and_header():
    """encode_gif -> decode_gif reproduces the palette-mapped gradient
    pixel sum; the O(1) header arm agrees with the full decode."""
    from advisorydatapipeline_spark.operators.multimodal import (
        GIF_N_COLORS,
        _gif_palette,
        decode_gif,
        encode_gif,
        parse_gif_header,
    )

    for w, h, seed in [(4, 5, 0), (7, 6, 3), (19, 9, 96), (1, 1, 42)]:
        pal = _gif_palette(seed)
        expect = sum(
            sum(pal[(seed + 7 * x + 13 * y) % GIF_N_COLORS])
            for y in range(h)
            for x in range(w)
        )
        gif = encode_gif(w, h, seed)
        assert decode_gif(gif) == (w, h, GIF_N_COLORS, expect)
        assert parse_gif_header(gif) == (w, h)


def test_gif_rejects_corrupt_payloads():
    """Every corrupt-body failure surfaces as ValueError (the
    mapInPandas skip contract — same as the PNG arm)."""
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        parse_gif_header,
    )

    good = encode_gif(6, 4, 9)
    with _pytest.raises(ValueError):
        decode_gif(b"not a gif")
    with _pytest.raises(ValueError):
        parse_gif_header(b"GIF89")  # truncated signature
    # every single-byte mutation and every truncation must either
    # decode (mutation landed in slack bits) or raise ValueError —
    # never any other exception class
    for i in range(len(good)):
        bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
        try:
            decode_gif(bad)
        except ValueError:
            pass
    for cut in range(len(good)):
        try:
            decode_gif(good[:cut])
        except ValueError:
            pass


def test_gif_decode_stats_and_header_branch(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        GIF_N_COLORS,
        _gif_palette,
        decode_gif_stats,
        decode_media_headers,
        encode_gif,
    )

    rows = [(1, encode_gif(5, 3, 7)), (2, b"junk"), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_gif_stats(df).collect()}
    pal = _gif_palette(7)
    assert out[1].container == "gif" and (out[1].width, out[1].height) == (5, 3)
    assert out[1].n_colors == GIF_N_COLORS
    assert out[1].pixel_sum == sum(
        sum(pal[(7 + 7 * x + 13 * y) % GIF_N_COLORS])
        for y in range(3)
        for x in range(5)
    )
    assert out[2].container == "unknown" and out[2].pixel_sum is None
    assert out[3].container == "unknown"
    hdr = {r.media_id: r for r in decode_media_headers(df).collect()}
    assert (hdr[1].container, hdr[1].width, hdr[1].height) == ("gif", 5, 3)


def test_gif_lzw_dictionary_paths():
    """The LZW decoder's dictionary-hit paths: the deferred
    code==next_free (cScSc) case fires on constant-color runs, and
    long streams force code-width growth and the 4096-entry clear."""
    import random

    from advisorydatapipeline_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    flat = bytes([3]) * 5000  # immediate cScSc + width growth
    assert _gif_lzw_decode(_gif_lzw_encode(flat, 4), 4, 5000) == flat
    rnd = random.Random(11)
    noisy = bytes(rnd.randrange(16) for _ in range(60000))  # 4096 cap
    assert _gif_lzw_decode(_gif_lzw_encode(noisy, 4), 4, 60000) == noisy


def test_jpeg_rejects_corrupt_payloads():
    """Every corrupt-payload failure surfaces as ValueError (the
    mapInPandas skip contract — same fuzz as the PNG/GIF arms)."""
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg_header,
    )

    good = encode_jpeg(6, 4, 3)
    with _pytest.raises(ValueError):
        parse_jpeg_header(b"not a jpeg")
    with _pytest.raises(ValueError):
        parse_jpeg_header(b"\xff\xd8\xff\xd9")  # SOI+EOI, no SOF
    # every single-byte mutation and every truncation must either
    # decode or raise ValueError — never any other exception class
    for i in range(len(good)):
        bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
        try:
            parse_jpeg_header(bad)
        except ValueError:
            pass
    for cut in range(len(good)):
        try:
            parse_jpeg_header(good[:cut])
        except ValueError:
            pass


def test_jpeg_header_stats_and_header_branch(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_jpeg_header_stats,
        decode_media_headers,
        encode_jpeg,
        parse_jpeg_header,
    )

    # baseline color, progressive grayscale, junk, NULL
    rows = [
        (1, encode_jpeg(320, 200, 3, False)),
        (2, encode_jpeg(64, 48, 1, True)),
        (3, b"junk"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_jpeg_header_stats(df).collect()}
    assert (out[1].container, out[1].width, out[1].height) == ("jpeg", 320, 200)
    assert (out[1].n_components, out[1].progressive) == (3, False)
    assert (out[2].n_components, out[2].progressive) == (1, True)
    assert out[3].container == "unknown" and out[3].width is None
    assert out[4].container == "unknown" and out[4].byte_len == 0

    hdr = {r.media_id: r for r in decode_media_headers(df).collect()}
    assert (hdr[1].container, hdr[1].width, hdr[1].height) == ("jpeg", 320, 200)
    assert hdr[3].container == "unknown"

    # fill bytes before a marker are spec-legal: inject 0xFF padding
    padded = b"\xff\xd8" + b"\xff" + encode_jpeg(10, 20, 1)[2:]
    assert parse_jpeg_header(padded) == (10, 20, 1, False)


def test_gif_lzw_deferred_clear_decodes():
    """Spec-legal 'deferred clear' streams (encoder freezes the table
    at 4096 entries and keeps emitting without a clear code) must
    decode — third-party encoders commonly do this even though
    encode_gif itself resets at the cap."""
    from advisorydatapipeline_spark.operators.multimodal import (
        _gif_lzw_decode,
    )

    mcs = 4
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    def encode_deferred(indices: bytes) -> bytes:
        out, acc, nbits = bytearray(), 0, 0

        def emit(code, width):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        next_free, width = eoi + 1, mcs + 1
        emit(clear, width)
        w = b""
        for b in indices:
            wk = w + bytes([b])
            if wk in table:
                w = wk
                continue
            emit(table[w], width)
            if next_free < 4096:
                table[wk] = next_free
                next_free += 1
                if next_free - 1 == (1 << width) and width < 12:
                    width += 1
            # else: table frozen, NO clear emitted (deferred clear)
            w = bytes([b])
        if w:
            emit(table[w], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    # enough low-entropy pseudo-random data to overflow 4096 table
    # entries and then keep hitting the frozen table for a long tail
    indices = bytes((i * 2654435761 >> 7) % 16 for i in range(30000))
    stream = encode_deferred(indices)
    assert _gif_lzw_decode(stream, mcs, len(indices)) == indices


def test_gif_animated_frame_sampling(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        _gif_palette,
        decode_gif,
        decode_gif_frames,
        encode_gif_animated,
        sample_gif_frames,
    )

    b = encode_gif_animated(6, 4, 9, 5)
    w, h, nc, nf, frames = decode_gif_frames(b, 2)
    assert (w, h, nc, nf) == (6, 4, 16, 5)
    assert [f for f, _ in frames] == [0, 2, 4]
    pal = _gif_palette(9)
    for f, ps in frames:
        assert ps == sum(
            sum(pal[(9 + 7 * x + 13 * y + 31 * f) % 16])
            for y in range(4)
            for x in range(6)
        )
    # decode_gif (single-frame arm) still reads frame 0
    assert decode_gif(b)[3] == frames[0][1]

    rows = sample_gif_frames(
        spark.createDataFrame(
            [(1, b), (2, b"junk"), (3, None)],
            "media_id long, payload binary",
        ),
        every_n=2,
    ).collect()
    assert {r.media_id for r in rows} == {1}  # corrupt rows skipped
    assert sorted(r.frame_idx for r in rows) == [0, 2, 4]
    assert all(r.n_frames == 5 for r in rows)


def test_gif_animated_rejects_corrupt_payloads():
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_animated,
    )

    good = encode_gif_animated(5, 3, 7, 3)
    with _pytest.raises(ValueError):
        decode_gif_frames(b"GIF89a", 1)
    with _pytest.raises(ValueError):
        decode_gif_frames(good, 0)  # every_n < 1
    for i in range(len(good)):
        bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
        try:
            decode_gif_frames(bad, 2)
        except ValueError:
            pass
    for cut in range(len(good)):
        try:
            decode_gif_frames(good[:cut], 2)
        except ValueError:
            pass


def test_wav_frame_features(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        encode_wav_pattern,
        wav_frame_features,
    )

    b = encode_wav_pattern(16000, 250, 9)
    samples = [((9 + 11 * i) % 2001) - 1000 for i in range(250)]
    rows = wav_frame_features(
        spark.createDataFrame(
            [(1, b), (2, b"junk"), (3, None)],
            "media_id long, payload binary",
        ),
        frame_len=100,
    ).collect()
    assert {r.media_id for r in rows} == {1}
    got = {r.frame_idx: r for r in rows}
    assert sorted(got) == [0, 1, 2]
    for fi in got:
        fr = samples[fi * 100 : (fi + 1) * 100]
        assert got[fi].n_in_frame == len(fr)
        assert got[fi].energy == sum(s * s for s in fr)
        assert got[fi].zero_crossings == sum(
            1 for a, c in zip(fr, fr[1:]) if (a < 0) != (c < 0)
        )


def test_wav_frame_rows_fuzz_valueerror_only():
    """ADVICE r9 (medium): the WAV arm's corrupt-skip contract had no
    fuzz coverage and two escapes (struct.error from an odd-length
    data chunk whose size field lies, ZeroDivisionError from bits=0).
    Same every-byte-mutation + every-truncation fuzz as PNG/BMP/GIF:
    each corrupted payload must decode or raise ValueError — never
    any other exception class."""
    from advisorydatapipeline_spark.operators.multimodal import (
        encode_wav_pattern,
        wav_frame_rows,
    )

    good = encode_wav_pattern(8000, 60, 5)
    assert len(wav_frame_rows(good, 25)) == 3  # 25+25+10
    for i in range(len(good)):
        bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
        try:
            wav_frame_rows(bad, 25)
        except ValueError:
            pass
    for cut in range(len(good)):
        try:
            wav_frame_rows(good[:cut], 25)
        except ValueError:
            pass
    # the two reproduced escapes, pinned explicitly:
    # 1) data size field exceeding the payload by an odd amount
    lying = bytearray(good)
    lying[40:44] = (2 * 60 + 3).to_bytes(4, "little")
    frames = wav_frame_rows(bytes(lying), 25)  # clamped, no struct.error
    assert sum(f[1] for f in frames) == 60
    # 2) fmt bits-per-sample = 0 -> ValueError, not ZeroDivisionError
    zero_bits = bytearray(good)
    zero_bits[34:36] = (0).to_bytes(2, "little")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        wav_frame_rows(bytes(zero_bits), 25)
    # and bits not a multiple of 8
    odd_bits = bytearray(good)
    odd_bits[34:36] = (12).to_bytes(2, "little")
    with _pytest.raises(ValueError):
        wav_frame_rows(bytes(odd_bits), 25)


def test_bmp_pixel_decode_and_row_orders(spark):
    from advisorydatapipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_bmp_stats,
        encode_bmp_gradient,
    )

    b = encode_bmp_gradient(7, 5, 9)
    exp = sum(
        (9 + 7 * x + 13 * y + 29 * c) % 256
        for y in range(5)
        for x in range(7)
        for c in range(3)
    )
    assert decode_bmp_pixels(b) == (7, 5, exp)
    # top-down variant (negative height): same pixels, flipped rows
    row_bytes = ((7 * 3 + 3) // 4) * 4
    rows = [
        bytes(b[54 + r * row_bytes : 54 + (r + 1) * row_bytes])
        for r in range(5)
    ]
    td = bytearray(b)
    td[22:26] = (-5).to_bytes(4, "little", signed=True)
    td[54:] = b"".join(reversed(rows))
    assert decode_bmp_pixels(bytes(td)) == (7, 5, exp)
    # corruption: every mutation/truncation is decode-or-ValueError
    for i in range(len(b)):
        bad = b[:i] + bytes([b[i] ^ 0xFF]) + b[i + 1 :]
        try:
            decode_bmp_pixels(bad)
        except ValueError:
            pass
    for cut in range(len(b)):
        try:
            decode_bmp_pixels(b[:cut])
        except ValueError:
            pass

    rows2 = decode_bmp_stats(
        spark.createDataFrame(
            [(1, b), (2, b"junk"), (3, None)],
            "media_id long, payload binary",
        )
    ).collect()
    got = {r.media_id: r for r in rows2}
    assert got[1].pixel_sum == exp and got[1].container == "bmp"
    assert got[2].container == "unknown" and got[2].pixel_sum is None


def _dhash_expected_blocks(doc_id: int, group: int = 6):
    """The encode_bmp_cellgrid spec in plain Python (test twin)."""
    def cell(i, j):
        if i < 8:
            x = (doc_id // group) * 64 + i * 8 + j
            return (
                ((x * x % 2147483648) * 2654435761 + x * 506952113)
                % 2147483648
            ) % 241
        return 250 if j < doc_id % 4 else 0

    blocks = [0, 0, 0, 0]
    for j in range(8):
        for c in range(8):
            if cell(c, j) < cell(c + 1, j):
                bit = j * 8 + c
                blocks[bit // 16] |= 1 << (bit % 16)
    return tuple(blocks)


def test_bmp_dhash_blocks_spec_and_fuzz():
    from advisorydatapipeline_spark.operators.multimodal import (
        bmp_dhash_blocks,
        encode_bmp_cellgrid,
        encode_bmp_gradient,
    )

    # full decode chain reproduces the cell-formula hash, across all
    # (sx, sy) downsample factors and flip counts
    for d in range(0, 60):
        assert bmp_dhash_blocks(encode_bmp_cellgrid(d)) == (
            _dhash_expected_blocks(d)
        ), d
    # within-group hamming is exactly |a%4 - b%4|
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    for g in (0, 3):
        ids = [6 * g + r for r in range(6)]
        hs = {d: _dhash_expected_blocks(d) for d in ids}
        for a in ids:
            for b in ids:
                if a < b:
                    assert ham(hs[a], hs[b]) == abs(a % 4 - b % 4)
    # top-down (negative height) row order must yield the FLIPPED
    # grid's hash, not the bottom-up one
    import pytest as _pytest

    b = bytearray(encode_bmp_cellgrid(7))
    h = int.from_bytes(b[22:26], "little", signed=True)
    # rebuild as top-down: negate height, reverse stored row order
    row_bytes = ((int.from_bytes(b[18:22], "little") * 3 + 3) // 4) * 4
    rows = [
        bytes(b[54 + r * row_bytes : 54 + (r + 1) * row_bytes])
        for r in range(h)
    ]
    td = bytearray(b)
    td[22:26] = (-h).to_bytes(4, "little", signed=True)
    td[54:] = b"".join(reversed(rows))
    assert bmp_dhash_blocks(bytes(td)) == bmp_dhash_blocks(bytes(b))
    # non-grid-divisible dims are a ValueError, not a wrong hash
    with _pytest.raises(ValueError):
        bmp_dhash_blocks(encode_bmp_gradient(10, 8))  # 10 % 9 != 0
    # every-byte mutation + truncation: decode or ValueError only
    good = encode_bmp_cellgrid(11)
    for i in range(len(good)):
        bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
        try:
            bmp_dhash_blocks(bad)
        except ValueError:
            pass
    for cut in range(0, len(good), 7):
        try:
            bmp_dhash_blocks(good[:cut])
        except ValueError:
            pass


def test_image_phash_near_dupes_vs_bruteforce(spark):
    """The banded near-dup operator returns EXACTLY the hamming<=3
    pair set a brute-force all-pairs comparison of the dHashes
    finds — exact recall via the pigeonhole block-combination join,
    and corrupt payloads are skipped without killing the pass."""
    from advisorydatapipeline_spark.operators.multimodal import (
        encode_bmp_cellgrid,
        image_phash_near_dupes,
    )

    ids = list(range(30))
    rows = [(d, encode_bmp_cellgrid(d)) for d in ids]
    rows += [(98, b"not a bmp"), (99, None)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in image_phash_near_dupes(media, max_hamming=3).collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    hs = {d: _dhash_expected_blocks(d) for d in ids}
    exp = {
        (a, b): ham(hs[a], hs[b])
        for a in ids
        for b in ids
        if a < b and ham(hs[a], hs[b]) <= 3
    }
    assert got == exp
    assert exp  # fixture actually plants near-dups


def test_image_phash_wide_keys_same_pairs(spark):
    """wide_keys repacks to 8x8-bit blocks and 40-bit combination
    keys — the output pair set is scheme-independent, so it must be
    IDENTICAL to the default 4x16 banding."""
    from advisorydatapipeline_spark.operators.multimodal import (
        encode_bmp_cellgrid,
        image_phash_near_dupes,
    )

    media = spark.createDataFrame(
        [(d, encode_bmp_cellgrid(d)) for d in range(36)],
        "media_id long, payload binary",
    )
    narrow = {
        (r.id_a, r.id_b, r.hamming)
        for r in image_phash_near_dupes(media).collect()
    }
    wide = {
        (r.id_a, r.id_b, r.hamming)
        for r in image_phash_near_dupes(media, wide_keys=True).collect()
    }
    assert narrow == wide and narrow


def test_audio_fp_spec_and_encoder_roundtrip():
    """The fixture WAV's decoded frame energies recover exactly the
    planted fingerprint bits, and within-group hamming follows the
    |a%4 - b%4| plant."""
    from advisorydatapipeline_spark.operators.multimodal import (
        AUDIO_FP_FRAMES,
        audio_fp_spec_bits,
        encode_wav_bitwalk,
        wav_frame_rows,
    )

    for d in (0, 7, 23, 100):
        frames = wav_frame_rows(encode_wav_bitwalk(d), 50)
        assert len(frames) == AUDIO_FP_FRAMES
        energies = [fr[2] for fr in frames]
        got = [1 if energies[f + 1] > energies[f] else 0 for f in range(64)]
        assert got == audio_fp_spec_bits(d), d
    # plant structure
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    for g in (0, 5):
        ids = [6 * g + r for r in range(6)]
        bits = {d: audio_fp_spec_bits(d) for d in ids}
        for a in ids:
            for b in ids:
                if a < b:
                    assert ham(bits[a], bits[b]) == abs(a % 4 - b % 4)


def test_audio_fp_near_dupes_vs_bruteforce(spark):
    """Banded audio near-dup == brute-force hamming<=3 over the spec
    bits; corrupt and too-short payloads are skipped."""
    from advisorydatapipeline_spark.operators.multimodal import (
        audio_fp_near_dupes,
        audio_fp_spec_bits,
        encode_wav_bitwalk,
        encode_wav_pattern,
    )

    ids = list(range(24))
    rows = [(d, encode_wav_bitwalk(d)) for d in ids]
    rows += [
        (97, encode_wav_pattern(8000, 60, 3)),  # valid WAV, <65 frames
        (98, b"not a wav"),
        (99, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in audio_fp_near_dupes(media).collect()
    }

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    bits = {d: audio_fp_spec_bits(d) for d in ids}
    exp = {
        (a, b): ham(bits[a], bits[b])
        for a in ids
        for b in ids
        if a < b and ham(bits[a], bits[b]) <= 3
    }
    assert got == exp and exp
