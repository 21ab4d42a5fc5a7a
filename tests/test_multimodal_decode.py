"""Real-decode tests: pure-Python PNG pixel decode (zlib + filter inversion)
and PCM16 WAV sample decode, validated against independently-synthesized
payloads with every PNG filter type."""

import os
import struct
import zlib

import pytest

import rasgoql_spark as rql
from rasgoql_spark.functions.multimodal import (
    _decode_png_pixels,
    _decode_wav_samples,
)

# the checkout root, where __spark_entry__.py lives
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def make_png(pixels, width, height, channels, filters=None) -> bytes:
    """Encode 8-bit pixels (flat list) as a valid PNG, applying the given
    per-row filter types (encoder-side forward filtering) — an independent
    implementation the decoder must invert."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for r in range(height):
        line = bytearray(pixels[r * stride:(r + 1) * stride])
        ft = filters[r]
        enc = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (line[i] - line[i - channels]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                enc[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw.append(ft)
        raw.extend(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def make_wav(frames, channels=2, rate=8000) -> bytes:
    """frames: list of per-frame tuples of int16 samples."""
    pcm = b"".join(struct.pack(f"<{channels}h", *f) for f in frames)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_decode_inverts_every_filter(ft):
    import random

    rng = random.Random(ft + 7)
    w, h, c = 5, 4, 3
    pixels = [rng.randrange(256) for _ in range(w * h * c)]
    png = make_png(pixels, w, h, c, filters=[ft] * h)
    got = _decode_png_pixels(png)
    assert got is not None
    gw, gh, gc, means = got
    assert (gw, gh, gc) == (w, h, c)
    for ch in range(c):
        want = sum(pixels[i] for i in range(ch, len(pixels), c)) / (w * h)
        assert abs(means[ch] - round(want, 6)) < 1e-9


def test_png_decode_mixed_filters_and_modes():
    import random

    rng = random.Random(42)
    for c in (1, 2, 3, 4):
        w, h = 6, 5
        pixels = [rng.randrange(256) for _ in range(w * h * c)]
        png = make_png(pixels, w, h, c, filters=[0, 1, 2, 3, 4])
        got = _decode_png_pixels(png)
        assert got is not None and got[2] == c
        for ch in range(c):
            want = sum(pixels[i] for i in range(ch, len(pixels), c)) / (w * h)
            assert abs(got[3][ch] - round(want, 6)) < 1e-9


def test_png_decode_rejects_non_png():
    assert _decode_png_pixels(b"not a png at all") is None
    assert _decode_png_pixels(b"") is None


def test_wav_sample_decode():
    frames = [(100, -200), (300, -400), (500, -600)]
    wav = make_wav(frames)
    ch, sr, n, means = _decode_wav_samples(wav)
    assert (ch, sr, n) == (2, 8000, 3)
    assert means == [300.0, -400.0]
    assert _decode_wav_samples(b"RIFFxxxx") is None


def test_image_pixels_op_on_spark(spark):
    import random

    rng = random.Random(1)
    rows = []
    expect = {}
    for i in range(8):
        w, h, c = 3 + i % 3, 2 + i % 2, 3
        px = [rng.randrange(256) for _ in range(w * h * c)]
        rows.append((i, bytearray(make_png(px, w, h, c, filters=[i % 5] * h))))
        expect[i] = (w, h, ",".join(
            f"{sum(px[j] for j in range(ch, len(px), c)) / (w * h):.6f}"
            for ch in range(c)))
    rows.append((99, bytearray(b"garbage")))
    df = spark.createDataFrame(rows, "doc_id long, img binary")
    out = rql.get_transform("image_pixels").apply(df, binary_col="img", id_col="doc_id")
    got = {r["DOC_ID"]: r for r in out.collect()}
    for i, (w, h, means) in expect.items():
        assert got[i]["WIDTH"] == w and got[i]["HEIGHT"] == h
        assert got[i]["CHANNEL_MEANS"] == means
        assert got[i]["DECODER"] == "png-pure"
    assert got[99]["DECODER"] == "unsupported" and got[99]["WIDTH"] is None


def test_audio_samples_op_on_spark(spark):
    rows = [(0, bytearray(make_wav([(10, 20), (30, 40)]))),
            (1, bytearray(b"nope"))]
    df = spark.createDataFrame(rows, "doc_id long, clip binary")
    out = rql.get_transform("audio_samples").apply(df, binary_col="clip", id_col="doc_id")
    got = {r["DOC_ID"]: r for r in out.collect()}
    assert got[0]["N_FRAMES"] == 2 and got[0]["CHANNEL_MEANS"] == "20.000000,30.000000"
    assert got[1]["DECODER"] == "unsupported"


def make_gif(indices, palette, width, height, min_code=2) -> bytes:
    """Independent 'uncompressed-style' GIF encoder: literal LZW codes with
    CLEAR emitted whenever the code width would have to grow — a valid
    stream any conformant decoder must accept."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    cwidth = min_code + 1
    bits = []

    def emit(code):
        for b in range(cwidth):
            bits.append((code >> b) & 1)

    emit(clear)
    next_code = eoi + 1
    prev_emitted = False
    for idx in indices:
        if prev_emitted:
            # decoder will add one table entry after this code; pre-clear if
            # that would force a width bump
            if next_code + 1 >= (1 << cwidth):
                emit(clear)
                next_code = eoi + 1
                prev_emitted = False
                emit(idx)
                prev_emitted = True
                continue
            next_code += 1
        emit(idx)
        prev_emitted = True
    emit(eoi)
    data = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, bit in enumerate(bits[i:i + 8]):
            byte |= bit << j
        data.append(byte)
    # global color table sized 2^min_code... GIF packed field: 2<<n entries
    gct_pow = min_code - 1  # 2 << (min_code-1) == 1 << min_code
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | gct_pow)  # GCT present
    out += bytes([0, 0])  # bg color, aspect
    for r, g, b in palette[: 1 << min_code]:
        out += bytes([r, g, b])
    out += b"\x2C" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out.append(min_code)
    pos = 0
    while pos < len(data):
        n = min(255, len(data) - pos)
        out.append(n)
        out += data[pos:pos + n]
        pos += n
    out += b"\x00\x3B"
    return bytes(out)


def test_gif_decode_roundtrip():
    import random

    from rasgoql_spark.functions.multimodal import _decode_gif_pixels

    rng = random.Random(3)
    palette = [(10, 20, 30), (200, 100, 0), (0, 0, 255), (255, 255, 255)]
    w, h = 7, 5
    idx = [rng.randrange(4) for _ in range(w * h)]
    gif = make_gif(idx, palette, w, h)
    got = _decode_gif_pixels(gif)
    assert got is not None
    gw, gh, gc, means = got
    assert (gw, gh, gc) == (w, h, 3)
    for ch in range(3):
        want = sum(palette[i][ch] for i in idx) / (w * h)
        assert abs(means[ch] - round(want, 6)) < 1e-9
    assert _decode_gif_pixels(b"GIF89a junk") is None


def test_image_pixels_op_decodes_gif(spark):
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    idx = [1] * 6  # solid red 3x2
    gif = make_gif(idx, palette, 3, 2)
    df = spark.createDataFrame([(0, bytearray(gif))], "doc_id long, img binary")
    out = rql.get_transform("image_pixels").apply(
        df, binary_col="img", id_col="doc_id").collect()[0]
    assert out["DECODER"] == "gif-pure"
    assert (out["WIDTH"], out["HEIGHT"]) == (3, 2)
    assert out["CHANNEL_MEANS"] == "255.000000,0.000000,0.000000"


# ----------------------------------------------------- multi-frame GIF decode

def test_gif_frames_multiframe_roundtrip(spark):
    import sys
    sys.path.insert(0, _ROOT)
    from __spark_entry__ import _synth_gif

    from rasgoql_spark.functions.multimodal import _gif_frames

    for doc_id in (0, 1, 5, 11, 23):
        data = _synth_gif(doc_id)
        t = doc_id % 3 + 2
        w, h = doc_id % 4 + 2, doc_id % 3 + 2
        frames = _gif_frames(data, 10)
        assert frames is not None and len(frames) == t
        for fi, fr in enumerate(frames):
            c = (doc_id + fi) % 7 + 1
            assert fr == bytes([c] * (w * h)), (doc_id, fi)


def test_gif_frames_rejects_non_gif_and_truncated(spark):
    from rasgoql_spark.functions.multimodal import _gif_frames

    assert _gif_frames(b"not a gif at all", 3) is None
    import sys
    sys.path.insert(0, _ROOT)
    from __spark_entry__ import _synth_gif

    data = _synth_gif(7)
    assert _gif_frames(data[:15], 3) is None  # truncated before any frame


def test_frame_sample_gif_vs_stub_paths(spark):
    import sys
    sys.path.insert(0, _ROOT)
    from __spark_entry__ import _synth_gif

    from rasgoql_spark.functions.multimodal import frame_sample

    rows = [(1, bytearray(_synth_gif(1))), (2, bytearray(b"plain text payload here"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = frame_sample(df, "content", "doc_id", num_frames=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["DOC_ID"], []).append(r["DECODER"])
    assert set(by_doc[1]) == {"gif-pure"} and len(by_doc[1]) == 1 % 3 + 2
    assert set(by_doc[2]) == {"stub"}


def test_lzw_decode_raises_valueerror_on_invalid_initial_code():
    # first code after the implicit table reset must be a root (< clear);
    # corrupt streams used to KeyError out of the mapInPandas batch
    from rasgoql_spark.functions.multimodal import _lzw_decode

    with pytest.raises(ValueError):
        _lzw_decode(b"\xff", 2, 10)  # 3-bit code 7 with roots 0..3


def _corrupt_lzw_gif() -> bytes:
    # minimal GIF89a whose single image's LZW stream opens with an invalid
    # code (0b111 with min_code_size=2 -> roots are only 0..3)
    return (
        b"GIF89a"
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")  # screen w,h
        + bytes([0x80, 0, 0])        # GCT flag, 2-entry table
        + bytes(6)                   # global color table (2 x RGB)
        + b"\x2c" + bytes(4)         # image descriptor, left/top 0
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")  # image w,h
        + bytes([0x00])              # no local color table
        + bytes([2])                 # LZW min code size
        + bytes([1, 0xFF])           # 1-byte sub-block: invalid first code
        + bytes([0])                 # block terminator
        + b"\x3b"                    # trailer
    )


def test_gif_frames_corrupt_lzw_returns_none():
    from rasgoql_spark.functions.multimodal import _gif_frames

    assert _gif_frames(_corrupt_lzw_gif(), 3) is None


def test_frame_sample_corrupt_gif_falls_back_to_stub(spark):
    # a malformed GIF in a binary corpus must degrade to the stub decoder,
    # not crash the whole frame_sample job
    from rasgoql_spark.functions.multimodal import frame_sample

    df = spark.createDataFrame(
        [(1, bytearray(_corrupt_lzw_gif()))], "doc_id long, content binary"
    )
    out = frame_sample(df, "content", "doc_id", num_frames=2).collect()
    assert out and all(r["DECODER"] == "stub" for r in out)
