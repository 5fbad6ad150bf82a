"""Multimodal plumbing: mapInPandas decode contract, stub behavior,
metadata derivation."""

import pytest
from pyspark.sql import functions as F

from financedatabase_spark.operators.multimodal import (
    attach_media_meta,
    decode_features,
    fake_decode,
    frame_sample_plan,
)


@pytest.fixture()
def media_df(spark, sf_dir):
    from financedatabase_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )


def test_fake_decode_deterministic():
    f1 = fake_decode(b"hello world")
    f2 = fake_decode(b"hello world")
    assert f1 == f2
    assert len(f1) == 8
    assert abs(sum(f1) - 1.0) < 1e-9  # normalized histogram


def test_decode_features_schema_and_values(spark, media_df):
    out = decode_features(media_df, decode_fn=fake_decode)
    assert [f.name for f in out.schema.fields] == ["doc_id", "media_type", "n_bytes", "feature"]
    rows = out.orderBy("doc_id").limit(3).collect()
    assert all(len(r.feature) == 8 for r in rows)
    # spot check against driver-side computation
    src = media_df.orderBy("doc_id").limit(3).collect()
    for r, s in zip(rows, src):
        assert r.n_bytes == len(bytes(s.payload))
        assert r.feature == pytest.approx(fake_decode(bytes(s.payload)))


def test_decode_without_codec_raises(spark, media_df):
    out = decode_features(media_df, decode_fn=None)
    with pytest.raises(Exception, match="NotImplementedError|no media codec"):
        out.limit(1).collect()


def test_media_meta(spark, media_df):
    meta = attach_media_meta(media_df).select("doc_id", "media_meta.*").limit(5).collect()
    for r in meta:
        assert r.media_type == "image/png"
        assert r.n_bytes > 0
        assert len(r.sha256) == 64


def test_frame_sampling(spark):
    frames = spark.range(100).select(
        (F.col("id") / 10).cast("long").alias("doc_id"), (F.col("id") % 10).alias("frame_idx")
    )
    kept = frame_sample_plan(frames, every_n=5)
    assert kept.count() == 20
    assert kept.filter(~F.col("frame_idx").isin(0, 5)).count() == 0


def test_wav_codec_round_trip():
    """wav_decode must parse the real container synth_wav writes: header
    fields round-trip through the wave module, and the windowed |amp|
    sums equal a direct integer computation from the synthesis formula."""
    import struct
    import wave
    from io import BytesIO

    from financedatabase_spark.operators.multimodal import synth_wav, wav_decode

    for doc_id in (0, 1, 2, 4, 5, 6, 7, 10, 11, 13, 15, 256, 12345, 20, 23):
        payload = synth_wav(doc_id)
        n = 400 + doc_id % 257
        # 0/3 mono16, 1 stereo16, 2 u8, 4 s24, 5 s32, 6 float32, 7 ulaw
        variant = doc_id % 8
        ch = 2 if variant == 1 else 1
        sw = {2: 1, 4: 3, 5: 4, 6: 4, 7: 1}.get(variant, 2)
        header = 58 if variant in (6, 7) else 44  # non-PCM: fmt(18)+fact
        assert len(payload) == header + sw * ch * n
        if variant in (6, 7):
            # stdlib wave rejects non-PCM tags: the fallback must own them
            with pytest.raises(wave.Error):
                wave.open(BytesIO(payload))
        else:
            with wave.open(BytesIO(payload)) as w:
                assert w.getnframes() == n
                assert w.getnchannels() == ch and w.getsampwidth() == sw
                assert w.getframerate() == 8000 + (doc_id % 3) * 4000
        want = [0.0] * 8
        for t in range(n):
            x = doc_id * 7919 + t * 104729
            if variant == 1:
                left = (x % 65536) - 32768
                right = ((doc_id * 104729 + t * 7919) % 65536) - 32768
                a = abs(int((left + right) / 2))
            elif variant == 2:
                a = abs((x % 256) - 128)
            elif variant == 4:
                a = abs((x % 2**24) - 2**23)
            elif variant == 5:
                a = abs((x % 2**32) - 2**31)
            elif variant == 6:
                a = abs((x % 65536) - 32768) / 32768.0
            elif variant == 7:
                u = 255 - x % 256
                a = ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
            else:
                a = abs((x % 65536) - 32768)
            want[t * 8 // n] += a
        assert wav_decode(payload) == [float(v) for v in want]

    # stereo mono-mix: L/R averaged (truncating), 2 frames -> 2 samples
    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 100, 200, -300, -100))
    feats = wav_decode(buf.getvalue(), dim=2)
    assert feats == [150.0, 200.0]  # |avg(100,200)|, |avg(-300,-100)|

    # 8-bit PCM is SUPPORTED: unsigned bytes centered at 128
    buf8 = BytesIO()
    with wave.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"\x00\x80\xff")
    assert wav_decode(buf8.getvalue(), dim=3) == [128.0, 0.0, 127.0]

    # 24-bit PCM is SUPPORTED: 3-byte little-endian two's complement
    buf24 = BytesIO()
    with wave.open(buf24, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        w.writeframes(
            b"".join(
                (s & 0xFFFFFF).to_bytes(3, "little")
                for s in (1_000_000, -1_000_000, -8_388_608)
            )
        )
    assert wav_decode(buf24.getvalue(), dim=3) == [1e6, 1e6, 8388608.0]

    # 32-bit PCM is SUPPORTED, including stereo mono-mix
    buf32 = BytesIO()
    with wave.open(buf32, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(4)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4i", 100000, 200000, -2_000_000_000, -100))
    assert wav_decode(buf32.getvalue(), dim=2) == [150000.0, 1000000050.0]


def test_dispatch_decode_routes_by_media_type():
    from financedatabase_spark.operators.multimodal import (
        dispatch_decode,
        synth_wav,
        wav_decode,
    )

    payload = synth_wav(42)
    assert dispatch_decode(payload, "audio/wav") == wav_decode(payload)
    assert dispatch_decode(payload, None) == wav_decode(payload)  # magic sniff
    with pytest.raises(NotImplementedError, match="video"):
        dispatch_decode(b"\x00\x00\x00\x18ftypmp42", "video/mp4")
    with pytest.raises(NotImplementedError):
        dispatch_decode(b"not media", None)


def test_audio_decode_through_mapinpandas(spark):
    """decode_features with pass_media_type=True drives dispatch_decode
    end-to-end over Arrow batches: real WAV payloads decode to the same
    features driver-side wav_decode computes; missing media_type column
    errors up front."""
    import pandas as pd

    from financedatabase_spark.operators.multimodal import (
        decode_features,
        dispatch_decode,
        synth_wav,
        wav_decode,
    )

    ids = [0, 3, 11, 500]
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "payload": [synth_wav(i) for i in ids],
            "media_type": ["audio/wav"] * len(ids),
        }
    )
    df = spark.createDataFrame(pdf, "doc_id long, payload binary, media_type string")
    out = {
        r.doc_id: r
        for r in decode_features(df, decode_fn=dispatch_decode, pass_media_type=True).collect()
    }
    for i in ids:
        assert out[i].media_type == "audio/wav"
        assert out[i].n_bytes == len(synth_wav(i))
        assert out[i].feature == wav_decode(synth_wav(i))

    with pytest.raises(ValueError, match="media_type"):
        decode_features(df.drop("media_type"), decode_fn=dispatch_decode, pass_media_type=True)


def test_avi_codec_round_trip():
    """avi_decode must parse the real container synth_avi writes: RIFF
    chunk walk, avih geometry, strf pixel-format validation, row-padding
    aware frame sums — all equal to a direct integer recomputation from
    the synthesis formula."""
    import struct

    from financedatabase_spark.operators.multimodal import avi_decode, synth_avi

    for doc_id in (0, 1, 7, 256, 12345):
        payload = synth_avi(doc_id)
        n = 8 + doc_id % 5
        assert len(payload) == 224 + 776 * n  # fixed headers + (8+768)/frame
        want = [0] * 8
        for f in range(n):
            s = sum(
                (doc_id * 31 + f * 97 + y * 13 + x * 7 + c * 5) % 256
                for y in range(16)
                for x in range(16)
                for c in range(3)
            )
            want[f * 8 // n] += s
        assert avi_decode(payload) == [float(v) for v in want]

    # row padding must be skipped: a 1x1 24-bit frame has 3 pixel bytes
    # + 1 alignment byte; the pad byte must not leak into the sum
    fb = 4
    avih = struct.pack("<10I", 40000, fb, 0, 0, 1, 0, 1, fb, 1, 1) + b"\x00" * 16
    strh = (
        b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, 1, fb, 0, 0)
        + struct.pack("<4H", 0, 0, 1, 1)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, fb, 0, 0, 0, 0)
    strl = (
        b"LIST" + struct.pack("<I", 116) + b"strl"
        + b"strh" + struct.pack("<I", 56) + strh
        + b"strf" + struct.pack("<I", 40) + strf
    )
    hdrl = b"LIST" + struct.pack("<I", 192) + b"hdrl" + b"avih" + struct.pack("<I", 56) + avih + strl
    movi = b"LIST" + struct.pack("<I", 4 + 8 + fb) + b"movi" + b"00db" + struct.pack("<I", fb) + bytes([10, 20, 30, 255])
    tiny = b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi
    assert avi_decode(tiny, dim=1) == [60.0]  # 10+20+30, pad byte 255 skipped

    # non-AVI bytes and malformed containers fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="RIFF/AVI"):
        avi_decode(b"not a container")
    wav_like = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with _pytest.raises(ValueError, match="RIFF/AVI"):
        avi_decode(wav_like)
    # BI_RLE8 is implemented now — but only over 8-bit palettized
    # frames; claiming it at 24-bit is malformed, not a seam
    strf_cmp = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 1, fb, 0, 0, 0, 0)
    cmp_avi = tiny.replace(strf, strf_cmp)
    with _pytest.raises(ValueError, match="BI_RLE8"):
        avi_decode(cmp_avi)
    # RLE4 is implemented too — 4-bit without a palette is malformed
    strf_rle4 = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 4, 2, fb, 0, 0, 0, 0)
    with _pytest.raises(ValueError, match="palette"):
        avi_decode(tiny.replace(strf, strf_rle4))
    # genuinely unsupported compressions (BI_BITFIELDS = 3) stay a seam
    strf_bf = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 32, 3, fb, 0, 0, 0, 0)
    with _pytest.raises(NotImplementedError, match="uncompressed"):
        avi_decode(tiny.replace(strf, strf_bf))


def test_png_codec_round_trip():
    """png_decode must parse the real container synth_png writes: chunk
    stream + CRCs, IHDR geometry (width varies by doc), zlib IDAT, and
    the inverse of ALL FIVE scanline filters — the decoded histogram
    must equal a direct recomputation from the synthesis formula."""
    import struct
    import zlib

    from financedatabase_spark.operators.multimodal import png_decode, synth_png

    for doc_id in (0, 1, 2, 7, 256, 12345):
        payload = synth_png(doc_id)
        w = 8 + (doc_id % 3) * 4
        counts = [0] * 8
        for y in range(16):
            for x in range(w):
                counts[((doc_id * 17 + y * 31 + x * 7) % 256) * 8 // 256] += 1
        assert png_decode(payload) == [c / (w * 16) for c in counts]

    # every chunk CRC must be spec-valid (a third-party reader would check)
    p = synth_png(5)
    off = 8
    while off + 8 <= len(p):
        (ln,) = struct.unpack_from(">I", p, off)
        ctype, data = p[off + 4:off + 8], p[off + 8:off + 8 + ln]
        (crc,) = struct.unpack_from(">I", p, off + 8 + ln)
        assert crc == (zlib.crc32(ctype + data) & 0xFFFFFFFF)
        off += 12 + ln

    # RGB (color type 2) decodes via integer-average luma
    w = h = 2
    rgb_rows = [[(10, 20, 30), (90, 90, 90)], [(255, 0, 0), (0, 0, 255)]]
    raw = bytearray()
    for row in rgb_rows:
        raw.append(0)
        for px in row:
            raw.extend(px)
    from financedatabase_spark.operators.multimodal import _png_chunk

    rgb = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    lumas = [(10 + 20 + 30) // 3, 90, 255 // 3, 255 // 3]  # 20, 90, 85, 85
    counts = [0] * 8
    for v in lumas:
        counts[v * 8 // 256] += 1
    assert png_decode(rgb) == [c / 4 for c in counts]

    # failure modes: bad signature, bad depth, truncated IDAT
    with pytest.raises(ValueError, match="signature"):
        png_decode(b"JFIF nope")
    # 16-bit gray is now SUPPORTED: 2x2 all-zero samples -> all luma 0
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    assert png_decode(deep) == [1.0] + [0.0] * 7
    bad_depth = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 4))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bad PNG depth"):
        png_decode(bad_depth)
    short = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x01\x02"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        png_decode(short)


@pytest.mark.heavy
def test_dispatch_decode_image_route():
    from financedatabase_spark.operators.multimodal import (
        dispatch_decode,
        png_decode,
        synth_png,
    )

    payload = synth_png(9)
    assert dispatch_decode(payload, "image/png") == png_decode(payload)
    assert dispatch_decode(payload, None) == png_decode(payload)  # magic sniff
    # baseline JPEG routes to the pure-stdlib jpeg codec
    from financedatabase_spark.operators.jpeg import jpeg_decode, synth_jpeg

    jp = synth_jpeg(9)
    assert dispatch_decode(jp, "image/jpeg") == jpeg_decode(jp)
    assert dispatch_decode(jp, None) == jpeg_decode(jp)  # magic sniff
    # GIF decodes for real now — truncated GIF bytes are malformed, not
    # a seam; formats beyond PNG/JPEG/GIF still gate on Pillow
    from financedatabase_spark.operators.gif import gif_decode, synth_gif

    g = synth_gif(5)
    assert dispatch_decode(g, "image/gif") == gif_decode(g)
    assert dispatch_decode(g, None) == gif_decode(g)  # magic sniff
    with pytest.raises(ValueError, match="GIF"):
        dispatch_decode(b"GIF87a gif-ish", "image/gif")
    from financedatabase_spark.operators.tiff import synth_tiff, tiff_decode

    t = synth_tiff(7)
    assert dispatch_decode(t, "image/tiff") == tiff_decode(t)
    assert dispatch_decode(t, None) == tiff_decode(t)  # magic sniff
    from financedatabase_spark.operators.webp import synth_webp, webp_decode

    wp = synth_webp(4)
    assert dispatch_decode(wp, "image/webp") == webp_decode(wp)
    assert dispatch_decode(wp, None) == webp_decode(wp)  # magic sniff
    with pytest.raises(ValueError, match="VP8L"):
        dispatch_decode(b"RIFF\x00\x00\x00\x00WEBPjunk", "image/webp")
    from financedatabase_spark.operators.multimodal import (
        bmp_decode,
        synth_bmp_file,
    )

    bm = synth_bmp_file(2)
    assert dispatch_decode(bm, "image/bmp") == bmp_decode(bm)
    assert dispatch_decode(bm, None) == bmp_decode(bm)  # magic sniff
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="Pillow"):
            dispatch_decode(b"\x00\x00\x00\x0cjP  jp2-ish", "image/jp2")


def test_dispatch_decode_video_route():
    from financedatabase_spark.operators.multimodal import (
        avi_decode,
        dispatch_decode,
        synth_avi,
    )

    payload = synth_avi(42)
    assert dispatch_decode(payload, "video/avi") == avi_decode(payload)
    assert dispatch_decode(payload, None) == avi_decode(payload)  # magic sniff


def test_mixed_modality_through_mapinpandas(spark):
    """One media table, three media types: dispatch_decode routes each
    row to its codec inside a single mapInPandas stage — the lakehouse
    mixed-asset layout the module docstring promises."""
    import pandas as pd

    from financedatabase_spark.operators.multimodal import (
        avi_decode,
        decode_features,
        dispatch_decode,
        png_decode,
        synth_avi,
        synth_png,
        synth_wav,
        wav_decode,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "payload": [synth_wav(1), synth_avi(2), synth_png(3)],
            "media_type": ["audio/wav", "video/avi", "image/png"],
        }
    )
    df = spark.createDataFrame(pdf, "doc_id long, payload binary, media_type string")
    out = {
        r.doc_id: r
        for r in decode_features(df, decode_fn=dispatch_decode, pass_media_type=True).collect()
    }
    assert out[1].feature == wav_decode(synth_wav(1))
    assert out[2].feature == avi_decode(synth_avi(2))
    assert out[3].feature == png_decode(synth_png(3))
    assert out[2].media_type == "video/avi"


def test_codec_seam_both_ways(spark, media_df):
    """The optional-codec seam: with Pillow importable, default_decode()
    returns the PIL codec and decode_features produces dim-length
    normalized histograms from real image bytes; without it the seam
    reports None and the stub contract (NotImplementedError on None,
    fake_decode as stand-in) carries the same schema. Either branch must
    satisfy the identical output contract."""
    from financedatabase_spark.operators.multimodal import (
        decode_features,
        default_decode,
        fake_decode,
    )

    codec = default_decode()
    try:
        import PIL  # noqa: F401

        assert codec is not None
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (4, 4), color=128).save(buf, format="PNG")
        feats = codec(buf.getvalue())
    except ImportError:
        assert codec is None
        codec = fake_decode
        feats = codec(b"\x00\x80\xff" * 5)

    assert len(feats) == 8
    assert abs(sum(feats) - 1.0) < 1e-9

    out = decode_features(media_df, decode_fn=codec).collect()
    assert all(len(r.feature) == 8 for r in out)
    assert all(abs(sum(r.feature) - 1.0) < 1e-9 for r in out)


def test_jpeg_codec_round_trip():
    """jpeg_pixels must parse the real baseline container synth_jpeg
    writes — marker segments, DHT canonical Huffman tables, DC
    prediction, the mid-run AC coefficient, per-position dequant,
    zigzag, IDCT — and reproduce the synthesis formula EXACTLY (the
    fixture's coefficient patterns are integral under the DCT)."""
    from financedatabase_spark.operators.jpeg import (
        _U4_SIGN,
        jpeg_decode,
        jpeg_pixels,
        synth_jpeg,
    )

    def expected(doc_id):
        w = 16 + (doc_id % 3) * 8
        px = []
        for y in range(16):
            for x in range(w):
                v = (doc_id * 17 + (y // 8) * 31 + (x // 8) * 7) % 251 + 2
                if y >= 8:
                    v += ((doc_id + x // 8) % 5 - 2) * _U4_SIGN[x % 8]
                px.append(v)
        return w, 16, px

    stuffed = 0
    for doc_id in (0, 1, 2, 6, 7, 11, 63, 256, 12345):  # 6/11 carry DRI
        payload = synth_jpeg(doc_id)
        stuffed += b"\xff\x00" in payload
        # odd docs are 4:2:0 color; jpeg_pixels returns their Y plane,
        # which shares the grayscale fixtures' formula exactly
        assert jpeg_pixels(payload) == expected(doc_id)
        w, _, px = expected(doc_id)
        counts = [0] * 8
        for v in px:
            counts[v * 8 // 256] += 1
        want = [c / (w * 16) for c in counts]
        if doc_id % 2 == 1:  # color: mean-Cb / mean-Cr features appended
            # chroma cell geometry by variant: 420 (doc%8 in 1,3) cells
            # 16x16, 422 (5) 16x8, 444 (7) 8x8 — h=16 throughout
            n = w * 16
            dx = 8 if doc_id % 8 == 7 else 16
            dy = 16 if doc_id % 8 in (1, 3) else 8
            cb = sum(
                (doc_id * 29 + (x // dx) * 13 + (y // dy) * 11) % 251 + 2
                for y in range(16)
                for x in range(w)
            )
            cr = sum(
                (doc_id * 23 + (x // dx) * 7 + (y // dy) * 19) % 251 + 2
                for y in range(16)
                for x in range(w)
            )
            want += [cb / n, cr / n]
        assert jpeg_decode(payload) == want
    # the 0xFF byte-stuffing path is live in this sample, not theoretical
    assert stuffed >= 2


def test_jpeg_420_planes_round_trip():
    """The 4:2:0 decoder path end to end: interleaved-MCU deinterleave
    (4 Y + Cb + Cr per MCU, per-component DC predictors), separate luma
    /chroma quant tables, 2x2 replication upsampling, and the padded
    MCU column at width 24 cropped to the SOF0 geometry — all planes
    bit-exact against the synthesis formulas."""
    from financedatabase_spark.operators.jpeg import (
        _U4_SIGN,
        JPEG_H,
        jpeg_planes,
        synth_jpeg_420,
    )

    for doc_id in (1, 3, 5, 7, 11, 17, 25, 1001):  # widths mixed; 11/17 carry DRI
        w = 16 + (doc_id % 3) * 8
        dw, dh, planes = jpeg_planes(synth_jpeg_420(doc_id))
        assert (dw, dh) == (w, JPEG_H) and len(planes) == 3
        for y in range(dh):
            for x in range(dw):
                v = (doc_id * 17 + (y // 8) * 31 + (x // 8) * 7) % 251 + 2
                if y >= 8:
                    v += ((doc_id + x // 8) % 5 - 2) * _U4_SIGN[x % 8]
                assert planes[0][y * dw + x] == v
                assert planes[1][y * dw + x] == (doc_id * 29 + (x // 16) * 13) % 251 + 2
                assert planes[2][y * dw + x] == (doc_id * 23 + (x // 16) * 7) % 251 + 2


def test_jpeg_general_coefficients_and_zrl():
    """The decoder is a full baseline decoder, not a fixture-shaped
    shortcut: arbitrary quantized coefficient blocks (negative values,
    >16-zero runs exercising ZRL, a nonzero final coefficient skipping
    EOB) must decode to the reference IDCT within rounding."""
    import numpy as np

    from financedatabase_spark.operators.jpeg import (
        _C,
        _COS,
        ZIGZAG,
        assemble_jpeg,
        jpeg_pixels,
    )

    qt = [1] * 64
    rng = np.random.RandomState(7)
    blocks = [list(map(int, rng.randint(-40, 41, 64))) for _ in range(3)]
    zrl = [0] * 64
    zrl[0], zrl[40], zrl[63] = 5, -3, 9  # 39-zero run (2x ZRL) + no-EOB tail
    blocks.append(zrl)
    w, h, px = jpeg_pixels(assemble_jpeg(32, 8, qt, blocks))
    assert (w, h) == (32, 8)
    C, COS = np.array(_C), np.array(_COS)
    for bi, bz in enumerate(blocks):
        coef = np.zeros(64)
        for zi, ri in enumerate(ZIGZAG):
            coef[ri] = bz[zi]
        f = np.einsum("u,v,vu,ux,vy->yx", C, C, coef.reshape(8, 8), COS, COS) / 4
        ref = np.clip(np.round(f) + 128, 0, 255)
        got = np.array([[px[y * 32 + bi * 8 + x] for x in range(8)] for y in range(8)])
        assert np.abs(got - ref).max() <= 1


def test_jpeg_failure_modes():
    """The documented seams raise NotImplementedError with the reason;
    malformed streams raise ValueError."""
    import struct

    from financedatabase_spark.operators.jpeg import jpeg_pixels, synth_jpeg

    with pytest.raises(ValueError, match="SOI"):
        jpeg_pixels(b"\x89PNG not a jpeg")

    good = bytearray(synth_jpeg(4))  # even -> grayscale base stream
    sof_at = good.find(b"\xff\xc0")
    # progressive (SOF2) is SUPPORTED now — but flipping a BASELINE
    # stream's SOF marker to SOF2 yields a malformed progressive scan
    # script (a full-band Ss=0..Se=63 scan is illegal under Annex G):
    # must fail loudly as a corrupt stream, not decode garbage
    sof2_flip = bytes(good[:sof_at + 1]) + b"\xc2" + bytes(good[sof_at + 2:])
    with pytest.raises(ValueError, match="Se=0"):
        jpeg_pixels(sof2_flip)

    # SOF1 (extended sequential) is SUPPORTED at 8-bit precision: the
    # same stream under the 0xFFC1 marker decodes to identical pixels
    sof1_flip = bytes(good[:sof_at + 1]) + b"\xc1" + bytes(good[sof_at + 2:])
    assert jpeg_pixels(sof1_flip) == jpeg_pixels(bytes(good))

    # lossless (SOF3) is SUPPORTED now — but flipping a BASELINE
    # stream's marker makes its scan header malformed AS a lossless
    # scan (Ss=0 is no valid predictor selector): loud ValueError
    sof3_flip = bytes(good[:sof_at + 1]) + b"\xc3" + bytes(good[sof_at + 2:])
    with pytest.raises(ValueError, match="predictor selector"):
        jpeg_pixels(sof3_flip)

    # differential SOFs are SUPPORTED now (hierarchical, Annex J) — but
    # only inside a DHP-declared sequence; a stray one is malformed
    sof5_flip = bytes(good[:sof_at + 1]) + b"\xc5" + bytes(good[sof_at + 2:])
    with pytest.raises(ValueError, match="DHP"):
        jpeg_pixels(sof5_flip)

    # non-interleaved sequential scans are SUPPORTED now — but a 4:2:0
    # SOF0 followed by ONLY the grayscale single-component scan is a
    # stream missing its chroma scans: loud ValueError at EOI, never an
    # all-zero chroma plane
    seglen, prec, h, w = struct.unpack_from(">HBHH", good, sof_at + 2)
    color = (
        bytes(good[:sof_at + 2])
        + struct.pack(">HBHHB", 17, prec, h, w, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
        + bytes(good[sof_at + 2 + seglen:])
    )
    with pytest.raises(ValueError, match="missing scans"):
        jpeg_pixels(color)

    # 4:2:2 is SUPPORTED now — this frankenstream (a 4:2:2 SOF over
    # only the grayscale single-component scan) decodes Y then fails
    # loudly at EOI for the missing chroma scans
    c422 = (
        bytes(good[:sof_at + 2])
        + struct.pack(">HBHHB", 17, prec, h, w, 3)
        + bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1])
        + bytes(good[sof_at + 2 + seglen:])
    )
    with pytest.raises(ValueError, match="missing scans"):
        jpeg_pixels(c422)

    # 3x1 luma is SUPPORTED now — this frankenstream decodes its Y scan
    # then fails loudly at EOI for the missing chroma scans
    c31 = (
        bytes(good[:sof_at + 2])
        + struct.pack(">HBHHB", 17, prec, h, w, 3)
        + bytes([1, 0x31, 0, 2, 0x11, 1, 3, 0x11, 1])
        + bytes(good[sof_at + 2 + seglen:])
    )
    with pytest.raises(ValueError, match="missing scans"):
        jpeg_pixels(c31)

    # NON-INTEGER replication (3x1 Y against 2x1 Cb) is in scope since
    # r14 — the SOF is accepted and this crafted stream now fails for
    # the honest reason (its body carries no scans for the components)
    c32 = (
        bytes(good[:sof_at + 2])
        + struct.pack(">HBHHB", 17, prec, h, w, 3)
        + bytes([1, 0x31, 0, 2, 0x21, 1, 3, 0x11, 1])
        + bytes(good[sof_at + 2 + seglen:])
    )
    with pytest.raises(ValueError, match="missing scans"):
        jpeg_pixels(c32)

    # factors past the T.81 limit are malformed, not a seam
    c5 = (
        bytes(good[:sof_at + 2])
        + struct.pack(">HBHHB", 17, prec, h, w, 3)
        + bytes([1, 0x51, 0, 2, 0x11, 1, 3, 0x11, 1])
        + bytes(good[sof_at + 2 + seglen:])
    )
    with pytest.raises(ValueError, match="T.81 1-4"):
        jpeg_pixels(c5)

    # 2-component streams stay a stated seam
    c2 = (
        bytes(good[:sof_at + 2])
        + struct.pack(">HBHHB", 14, prec, h, w, 2)
        + bytes([1, 0x11, 0, 2, 0x11, 1])
        + bytes(good[sof_at + 2 + seglen:])
    )
    with pytest.raises(NotImplementedError, match="1- or 3-component"):
        jpeg_pixels(c2)

    # DRI is SUPPORTED now — but a declared interval whose RST markers are
    # missing from the entropy stream must fail loudly at the boundary
    dri = bytes(good[:sof_at]) + b"\xff\xdd\x00\x04\x00\x02" + bytes(good[sof_at:])
    with pytest.raises(ValueError, match="restart"):
        jpeg_pixels(dri)

    # a corrupted RSTn index (RST0 stream, first marker flipped to RST5)
    from financedatabase_spark.operators.jpeg import synth_jpeg as _sj

    rst_stream = bytearray(_sj(6))  # grayscale with DRI=3 and live RST markers
    at = rst_stream.find(b"\xff\xd0")
    assert at > 0
    rst_stream[at + 1] = 0xD5
    with pytest.raises(ValueError, match="restart"):
        jpeg_pixels(bytes(rst_stream))

    with pytest.raises(ValueError, match="truncated|ended|no scan"):
        jpeg_pixels(bytes(good[:-20]))
    eoi_less = bytes(good[:-2]) + b"\x00" * 1  # scan data ends mid-block
    with pytest.raises(ValueError):
        jpeg_pixels(eoi_less[: len(good) - 8])


def test_jpeg_truncated_segments_raise_valueerror():
    """The documented error contract holds for untrusted payloads:
    truncated segment BODIES (not just a truncated scan) raise
    ValueError, never struct.error / IndexError."""
    import struct

    from financedatabase_spark.operators.jpeg import jpeg_pixels

    # SOF0 claiming 20 bytes with only 1 present
    p = b"\xff\xd8\xff\xc0" + struct.pack(">H", 20) + b"\x08"
    with pytest.raises(ValueError, match="truncated"):
        jpeg_pixels(p)
    # DQT with a short table
    p = b"\xff\xd8\xff\xdb" + struct.pack(">H", 12) + b"\x00" + b"\x01" * 9
    with pytest.raises(ValueError, match="truncated|DQT"):
        jpeg_pixels(p)
    # DHT with missing value list
    p = b"\xff\xd8\xff\xc4" + struct.pack(">H", 19) + b"\x00" + bytes([1] + [0] * 15)
    with pytest.raises(ValueError, match="truncated|DHT"):
        jpeg_pixels(p)


def test_jpeg_duplicate_scan_component_rejected():
    """T.81 B.2.3 requires distinct Csj within one scan, and sequential
    DCT assigns each component to exactly one scan — a malformed stream
    that lists a component twice (or re-scans an already-decoded one)
    must raise, not decode the same plane twice with independent DC
    predictors. So must a second frame header after the scans."""
    from financedatabase_spark.operators.jpeg import jpeg_planes, synth_jpeg_color

    # partially interleaved layout: the Cb+Cr scan header is
    # FFDA len=10 [ns=2, (2, tdta), (3, tdta), ss, se, ahal]
    good = synth_jpeg_color(2, (2, 2), partial=True)
    assert jpeg_planes(good)  # the pristine fixture decodes
    cc_sos = b"\xff\xda\x00\x0a\x02\x02\x00\x03\x00\x00\x3f\x00"
    at = good.index(cc_sos)
    dup = bytearray(good)
    dup[at + 7] = 2  # component ids become (2, 2): duplicate Csj
    with pytest.raises(ValueError, match="twice in one scan"):
        jpeg_planes(bytes(dup))

    # non-interleaved layout: three one-component scans (cids 1,2,3);
    # rewriting the second scan's cid to 1 re-scans component 1
    good = synth_jpeg_color(2, (2, 2), multiscan=True)
    assert jpeg_planes(good)
    scan2 = b"\xff\xda\x00\x08\x01\x02\x00\x00\x3f\x00"
    at = good.index(scan2)
    rescan = bytearray(good)
    rescan[at + 5] = 1  # cid 2 -> 1, already decoded by scan 1
    with pytest.raises(ValueError, match="re-scans component"):
        jpeg_planes(bytes(rescan))

    # interleaved layout: a scan covering every component, then that
    # scan again before EOI
    good = synth_jpeg_color(2, (2, 2))
    sos = good.index(b"\xff\xda")
    with pytest.raises(ValueError, match="re-scans component"):
        jpeg_planes(good[:-2] + good[sos:])
    # one frame per non-hierarchical stream: a SOF after the scans
    sof = good.index(b"\xff\xc0")
    with pytest.raises(ValueError, match="second SOF"):
        jpeg_planes(good[:-2] + good[sof:sos] + good[sos:])


def test_jpeg_arith_fixtures_match_huffman_twins():
    """Arithmetic fixtures must decode to EXACTLY the pixels of the
    Huffman containers carrying the same quantized coefficients — all
    eight variants (gray / 4:2:0 / gray+DRI restarts / 4:4:4 /
    PROGRESSIVE SOF10 gray / progressive 4:2:0 / 4:2:0 NON-INTERLEAVED
    / 4:2:0 PARTIAL), all three widths including the padded-MCU column,
    and the restart-every-MCU color docs."""
    from financedatabase_spark.operators.jpeg import (
        _FIXTURE_QT,
        JPEG_H,
        _y_block_zz,
        assemble_jpeg,
        jpeg_planes,
        synth_jpeg_arith,
        synth_jpeg_color,
    )

    for d in range(96):
        got = jpeg_planes(synth_jpeg_arith(d))
        v = d % 8
        w, h = 16 + (d % 3) * 8, JPEG_H
        if v in (0, 2, 4):
            blocks = [
                _y_block_zz(d, bx, by) for by in range(h // 8) for bx in range(w // 8)
            ]
            want = jpeg_planes(assemble_jpeg(w, h, _FIXTURE_QT, blocks))
        else:
            want = jpeg_planes(synth_jpeg_color(d, (1, 1) if v == 3 else (2, 2)))
        assert got == want, f"doc {d}"


def test_jpeg_arith_malformed_streams():
    """Error contract for the arithmetic path: bad DAC conditioning is
    ValueError; a stream whose interleaved entropy data is re-labelled
    as a subset scan desyncs LOUDLY (the subset layout itself decodes
    since r14), and statistics-bank ids past 3 are rejected."""
    import struct as _struct

    from financedatabase_spark.operators.jpeg import jpeg_planes, synth_jpeg_arith

    good = synth_jpeg_arith(0)
    dac = b"\xff\xcc" + _struct.pack(">H", 6) + bytes([0x00, 0x10, 0x10, 5])
    at = good.index(dac)

    bad = bytearray(good)
    bad[at + 5] = 0x01  # DC conditioning L=1 > U=0
    with pytest.raises(ValueError, match="DAC DC conditioning"):
        jpeg_planes(bytes(bad))
    bad = bytearray(good)
    bad[at + 7] = 0  # AC Kx = 0 outside 1..63
    with pytest.raises(ValueError, match="DAC AC Kx"):
        jpeg_planes(bytes(bad))

    # rewrite a color fixture's interleaved SOS into a 1-component
    # subset scan: the layout is legal now, so the mislabeled entropy
    # data must fail loudly (missing-scan / desync), never decode
    color = synth_jpeg_arith(3)  # 4:4:4, no restart markers
    sos = b"\xff\xda" + _struct.pack(">H", 12) + bytes(
        [3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
    )
    at = color.index(sos)
    subset = (
        color[:at]
        + b"\xff\xda" + _struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
        + color[at + 14:]
    )
    with pytest.raises(ValueError):
        jpeg_planes(subset)

    # statistics-bank ids are 0-3; a DHT-style id 4 is malformed
    gray = bytearray(good)
    gsos = b"\xff\xda" + _struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    at = good.index(gsos)
    gray[at + 6] = 0x44
    with pytest.raises(ValueError, match="statistics-bank"):
        jpeg_planes(bytes(gray))


def _libjpeg_helpers(tmp_path_factory):
    """Compile the two libjpeg cross-validation helpers once per
    session; None when gcc or jpeglib is unavailable (tests skip)."""
    import shutil as _sh
    import subprocess as _sp

    gcc = _sh.which("gcc") or _sh.which("cc")
    if gcc is None:
        return None
    d = tmp_path_factory.mktemp("jarith")
    dec_src = d / "jdec.c"
    dec_src.write_text(r"""
#include <stdio.h>
#include <stdlib.h>
#include <jpeglib.h>
int main(void){
  struct jpeg_decompress_struct cinfo; struct jpeg_error_mgr jerr;
  unsigned char *buf=NULL; size_t n=0, cap=0; int ch;
  while((ch=getchar())!=EOF){ if(n==cap){cap=cap?cap*2:65536; buf=realloc(buf,cap);} buf[n++]=ch; }
  cinfo.err=jpeg_std_error(&jerr);
  jpeg_create_decompress(&cinfo);
  jpeg_mem_src(&cinfo, buf, n);
  jpeg_read_header(&cinfo, TRUE);
  cinfo.out_color_space = cinfo.jpeg_color_space;
  jpeg_start_decompress(&cinfo);
  printf("%u %u %d\n", cinfo.output_width, cinfo.output_height, cinfo.output_components);
  int stride = cinfo.output_width * cinfo.output_components;
  JSAMPARRAY row = (*cinfo.mem->alloc_sarray)((j_common_ptr)&cinfo, JPOOL_IMAGE, stride, 1);
  while(cinfo.output_scanline < cinfo.output_height){
    jpeg_read_scanlines(&cinfo, row, 1);
    fwrite(row[0], 1, stride, stdout);
  }
  jpeg_finish_decompress(&cinfo); jpeg_destroy_decompress(&cinfo);
  return 0;
}
""")
    enc_src = d / "jenc.c"
    enc_src.write_text(r"""
#include <stdio.h>
#include <stdlib.h>
#include <jpeglib.h>
int main(int argc, char**argv){
  int w=atoi(argv[1]), h=atoi(argv[2]), nc=atoi(argv[3]), q=atoi(argv[4]), rst=argc>5?atoi(argv[5]):0;
  int prog=argc>6?atoi(argv[6]):0;
  struct jpeg_compress_struct cinfo; struct jpeg_error_mgr jerr;
  cinfo.err=jpeg_std_error(&jerr);
  jpeg_create_compress(&cinfo);
  unsigned char *out=NULL; unsigned long outlen=0;
  jpeg_mem_dest(&cinfo, &out, &outlen);
  cinfo.image_width=w; cinfo.image_height=h; cinfo.input_components=nc;
  cinfo.in_color_space = nc==1 ? JCS_GRAYSCALE : JCS_YCbCr;
  jpeg_set_defaults(&cinfo);
  jpeg_set_quality(&cinfo, q, TRUE);
  cinfo.arith_code = TRUE;
  cinfo.restart_interval = rst;
  if (prog) jpeg_simple_progression(&cinfo);
  jpeg_start_compress(&cinfo, TRUE);
  int stride=w*nc; unsigned char *row=malloc(stride);
  JSAMPROW rp[1]; rp[0]=row;
  for(int y=0;y<h;y++){ fread(row,1,stride,stdin); jpeg_write_scanlines(&cinfo, rp, 1); }
  jpeg_finish_compress(&cinfo);
  fwrite(out,1,outlen,stdout);
  return 0;
}
""")
    coef_src = d / "jcoef.c"
    coef_src.write_text(r"""
#include <stdio.h>
#include <stdlib.h>
#include <jpeglib.h>
int main(void){
  struct jpeg_decompress_struct cinfo; struct jpeg_error_mgr jerr;
  unsigned char *buf=NULL; size_t n=0, cap=0; int ch;
  while((ch=getchar())!=EOF){ if(n==cap){cap=cap?cap*2:65536; buf=realloc(buf,cap);} buf[n++]=ch; }
  cinfo.err=jpeg_std_error(&jerr);
  jpeg_create_decompress(&cinfo);
  jpeg_mem_src(&cinfo, buf, n);
  jpeg_read_header(&cinfo, TRUE);
  jvirt_barray_ptr *coefs = jpeg_read_coefficients(&cinfo);
  for (int ci = 0; ci < cinfo.num_components; ci++) {
    jpeg_component_info *comp = &cinfo.comp_info[ci];
    printf("comp %d %d %d\n", ci, comp->width_in_blocks, comp->height_in_blocks);
    for (JDIMENSION by = 0; by < comp->height_in_blocks; by++) {
      JBLOCKARRAY rows = (*cinfo.mem->access_virt_barray)((j_common_ptr)&cinfo, coefs[ci], by, 1, FALSE);
      for (JDIMENSION bx = 0; bx < comp->width_in_blocks; bx++) {
        for (int k = 0; k < 64; k++) printf("%d ", rows[0][bx][k]);
        printf("\n");
      }
    }
  }
  jpeg_finish_decompress(&cinfo); jpeg_destroy_decompress(&cinfo);
  return 0;
}
""")
    try:
        for src, exe in ((dec_src, "jdec"), (enc_src, "jenc"), (coef_src, "jcoef")):
            r = _sp.run([gcc, "-O2", "-o", str(d / exe), str(src), "-ljpeg"],
                        capture_output=True, timeout=120)
            if r.returncode != 0:
                return None
    except Exception:  # noqa: BLE001
        return None
    return d


@pytest.fixture(scope="session")
def libjpeg_tools(tmp_path_factory):
    tools = _libjpeg_helpers(tmp_path_factory)
    if tools is None:
        pytest.skip("gcc + libjpeg (arithmetic build) unavailable")
    return tools


def _decode_arith_stream_coeffs(jpg: bytes):
    """Per-component {(by, bx): 64 natural-order quantized coefficients}
    from the decoder's own coefficient phase (`jpeg_coefficients`, the
    store `jpeg_frame` reconstructs from) — the entropy-layer view, no
    IDCT, so it compares exactly against libjpeg's
    jpeg_read_coefficients dump regardless of IDCT flavor. Sequential
    and progressive streams fill the same store."""
    from financedatabase_spark.operators.jpeg import ZIGZAG, jpeg_coefficients

    c = jpeg_coefficients(jpg)
    mcus_x = c.grid[2]
    got = {}
    for ci, ((_cid, hs, _vs, _tq), blocks) in enumerate(zip(c.comps, c.blocks)):
        got[ci] = {}
        for bi, zz in enumerate(blocks):
            nat = [0] * 64
            for zi, rix in enumerate(ZIGZAG):
                nat[rix] = zz[zi]
            got[ci][divmod(bi, mcus_x * hs)] = nat
    return got


def _coef_dump(tools, jpg: bytes):
    import subprocess as _sp

    out = _sp.run([str(tools / "jcoef")], input=jpg, capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr[:300]
    comps = {}
    cur = None
    for line in out.stdout.decode().splitlines():
        if line.startswith("comp"):
            _, ci, bw, bh = line.split()
            cur = int(ci)
            comps[cur] = {"bw": int(bw), "blocks": []}
        else:
            comps[cur]["blocks"].append([int(x) for x in line.split()])
    return comps


def test_jpeg_arith_encoder_validated_by_libjpeg(libjpeg_tools):
    """CONFORMANCE, direction 1: streams produced by the Python QM
    encoder must decode in libjpeg to exactly the fixture pixels —
    validating the Table D.3 state machine, register discipline, byte
    stuffing and the D.1.8 flush against an independent codec."""
    import subprocess as _sp

    from financedatabase_spark.operators.jpeg import (
        _FIXTURE_QT,
        JPEG_H,
        _y_block_zz,
        assemble_jpeg,
        jpeg_planes,
        synth_jpeg_arith,
    )

    for d in range(0, 48):  # gray variants (pixels comparable 1:1),
        if d % 8 not in (0, 2, 4):  # incl. PROGRESSIVE SOF10 (v = 4)
            continue
        w, h = 16 + (d % 3) * 8, JPEG_H
        blocks = [
            _y_block_zz(d, bx, by) for by in range(h // 8) for bx in range(w // 8)
        ]
        want = jpeg_planes(assemble_jpeg(w, h, _FIXTURE_QT, blocks))[2][0]
        r = _sp.run([str(libjpeg_tools / "jdec")],
                    input=synth_jpeg_arith(d), capture_output=True, timeout=120)
        assert r.returncode == 0, (d, r.stderr[:300])
        hdr, _, body = r.stdout.partition(b"\n")
        gw, gh, gc = map(int, hdr.split())
        assert (gw, gh, gc) == (w, h, 1)
        assert list(body) == want, d
    # color variants: entropy-layer comparison via jpeg_read_coefficients
    # (libjpeg's fancy chroma upsampler differs from replication, so
    # pixel comparison would conflate IDCT/upsample flavor with entropy);
    # sequential interleaved — the progressive fixtures are pixel-checked
    # above and coefficient-checked in the progressive cross test
    for d in (1, 3, 9, 11):
        jpg = synth_jpeg_arith(d)
        mine = _decode_arith_stream_coeffs(jpg)
        theirs = _coef_dump(libjpeg_tools, jpg)
        for ci, dump in theirs.items():
            bw = dump["bw"]
            for bi, wv in enumerate(dump["blocks"]):
                by, bx = divmod(bi, bw)
                assert mine[ci][(by, bx)] == wv, (d, ci, by, bx)
    # NON-INTERLEAVED (14, 22) and PARTIAL (15, 23 — 23 restart-marked)
    # layouts: libjpeg must decode this encoder's subset-scan streams to
    # the exact fixture coefficients (my-decoder pixels are covered by
    # the Huffman-twin test; this proves the per-scan coder/statistics
    # and the subset SOS shapes against the independent codec)
    from financedatabase_spark.operators.jpeg import ZIGZAG, _chroma_blocks

    for d in (14, 15, 22, 23):
        jpg = synth_jpeg_arith(d)
        theirs = _coef_dump(libjpeg_tools, jpg)
        w = 16 + (d % 3) * 8
        mcu_w = (w + 15) // 16
        cb, cr = _chroma_blocks(d, mcu_w, 1)
        for ci, dump in theirs.items():
            bw = dump["bw"]
            for bi, wv in enumerate(dump["blocks"]):
                by, bx = divmod(bi, bw)
                if ci == 0:
                    zz = _y_block_zz(d, bx, by)
                else:
                    zz = (cb if ci == 1 else cr)[by][bx]
                nat = [0] * 64
                for zi, rix in enumerate(ZIGZAG):
                    nat[rix] = zz[zi]
                assert nat == wv, (d, ci, by, bx)


def test_jpeg_arith_decoder_validated_by_libjpeg(libjpeg_tools):
    """CONFORMANCE, direction 2: arithmetic streams produced by
    LIBJPEG's encoder (noise and gradient images, gray + color,
    restart intervals, several qualities) must decode in the Python
    QM decoder to the exact quantized coefficients libjpeg's own
    jpeg_read_coefficients reports."""
    import random as _random
    import subprocess as _sp

    rng = _random.Random(7)
    cases = []
    for _ in range(5):
        w = rng.choice([16, 24, 32, 40])
        h = rng.choice([16, 24, 32])
        nc = rng.choice([1, 3])
        rst = rng.choice([0, 0, 2, 3])
        q = rng.choice([50, 75, 95])
        mode = rng.choice(["noise", "grad"])
        cases.append((w, h, nc, rst, q, mode))
    for w, h, nc, rst, q, mode in cases:
        if mode == "noise":
            raw = bytes(rng.randrange(256) for _ in range(w * h * nc))
        else:
            raw = bytes(
                ((x * 5 + y * 3 + c * 50) % 256)
                for y in range(h) for x in range(w) for c in range(nc)
            )
        jpg = _sp.run([str(libjpeg_tools / "jenc"), str(w), str(h), str(nc),
                       str(q), str(rst)],
                      input=raw, capture_output=True, timeout=120).stdout
        mine = _decode_arith_stream_coeffs(jpg)
        theirs = _coef_dump(libjpeg_tools, jpg)
        for ci, dump in theirs.items():
            bw = dump["bw"]
            for bi, wv in enumerate(dump["blocks"]):
                by, bx = divmod(bi, bw)
                assert mine[ci][(by, bx)] == wv, (w, h, nc, rst, q, mode, ci, by, bx)


def test_jpeg_arith_progressive_validated_by_libjpeg(libjpeg_tools):
    """CONFORMANCE for the PROGRESSIVE arithmetic process (SOF10):
    direction 1 — this encoder's full Annex G scan scripts (incl. the
    DRI-on-DC-scan variant) decode in libjpeg to exact fixture pixels;
    direction 2 — libjpeg's own progressive arithmetic streams
    (jpeg_simple_progression: spectral selection + successive
    approximation) decode here to libjpeg's coefficient dump."""
    import random as _random
    import subprocess as _sp

    from financedatabase_spark.operators.jpeg import (
        _FIXTURE_QT,
        JPEG_H,
        _y_block_zz,
        assemble_jpeg,
        assemble_jpeg_progressive,
        jpeg_planes,
    )

    for d in (0, 1, 2, 3, 6):
        w, h = 16 + (d % 3) * 8, JPEG_H
        blocks = [
            _y_block_zz(d, bx, by) for by in range(h // 8) for bx in range(w // 8)
        ]
        want = jpeg_planes(assemble_jpeg(w, h, _FIXTURE_QT, blocks))[2][0]
        ar = assemble_jpeg_progressive(
            w, h, _FIXTURE_QT, blocks,
            dc_restart_interval=3 if d % 6 == 0 else 0, arith=True,
        )
        r = _sp.run([str(libjpeg_tools / "jdec")], input=ar,
                    capture_output=True, timeout=120)
        assert r.returncode == 0, (d, r.stderr[:300])
        hdr, _, body = r.stdout.partition(b"\n")
        assert tuple(map(int, hdr.split())) == (w, h, 1)
        assert list(body) == want, d

    rng = _random.Random(11)
    for _ in range(4):
        w = rng.choice([16, 24, 32, 40])
        h = rng.choice([16, 24, 32])
        nc = rng.choice([1, 3])
        q = rng.choice([50, 75, 95])
        raw = bytes(rng.randrange(256) for _ in range(w * h * nc))
        jpg = _sp.run([str(libjpeg_tools / "jenc"), str(w), str(h), str(nc),
                       str(q), "0", "1"],
                      input=raw, capture_output=True, timeout=120).stdout
        mine = _decode_arith_stream_coeffs(jpg)
        theirs = _coef_dump(libjpeg_tools, jpg)
        for ci, dump in theirs.items():
            bw = dump["bw"]
            for bi, wv in enumerate(dump["blocks"]):
                by, bx = divmod(bi, bw)
                assert mine[ci][(by, bx)] == wv, (w, h, nc, q, ci, by, bx)


def test_jpeg_arith_deep_state_coverage(libjpeg_tools):
    """The far end of the Table D.3 MPS ladder (states 12-13 need
    ~10^4-long single-context MPS runs) and the state-10 LPS jump to 35
    are unreachable from small images. A 2048x1024 flat image (32768
    blocks drive one DC bin to state 13) with a speck placed exactly
    where the bin sits at state 10 (block ~1400, measured) exercises
    both; the stream is libjpeg-encoded and must decode to libjpeg's
    own coefficient dump, and the spy must observe the full table."""
    import subprocess as _sp

    import financedatabase_spark.operators.jpeg_arith as ja

    visited = set()
    orig = ja.ArithDecoder.decode

    def spy(self, st, i):
        visited.add(st[i] & 0x7F)
        return orig(self, st, i)

    w, h = 2048, 1024
    raw = bytearray([128]) * (w * h)
    raw[(1400 // 256) * 8 * w + (1400 % 256) * 8] = 250  # block 1400 speck
    jpg = _sp.run([str(libjpeg_tools / "jenc"), str(w), str(h), "1", "30", "0"],
                  input=bytes(raw), capture_output=True, timeout=120).stdout
    ja.ArithDecoder.decode = spy
    try:
        mine = _decode_arith_stream_coeffs(jpg)
    finally:
        ja.ArithDecoder.decode = orig
    assert 13 in visited and 35 in visited, sorted(visited)
    theirs = _coef_dump(libjpeg_tools, jpg)
    bw = theirs[0]["bw"]
    for bi, wv in enumerate(theirs[0]["blocks"]):
        by, bx = divmod(bi, bw)
        assert mine[0][(by, bx)] == wv, (by, bx)


def test_jpeg_progressive_round_trip():
    """Progressive (SOF2) fixtures must decode to EXACTLY the pixels of
    the baseline container carrying the same quantized coefficients —
    across grayscale/color, all three widths (including the padded-MCU
    width 24, where the non-interleaved AC grid is smaller than the
    interleaved one), and the DRI-on-DC-scan variants (doc%6 in (0,5))
    that rebind DRI to 0 between scans. Width 32 docs make every AC
    band-1..5 scan a multi-block EOB run, so EOBn (n>0) symbols and the
    cross-block run decode are exercised, not just EOB0."""
    from financedatabase_spark.operators.jpeg import (
        JPEG_H,
        _FIXTURE_QT,
        _y_block_zz,
        assemble_jpeg,
        jpeg_planes,
        synth_jpeg_420,
        synth_jpeg_progressive,
    )

    for d in range(48):
        prog = synth_jpeg_progressive(d)
        if d % 2 == 1:
            base = synth_jpeg_420(d)
        else:
            w, h = 16 + (d % 3) * 8, JPEG_H
            blocks = [
                _y_block_zz(d, bx, by)
                for by in range(h // 8)
                for bx in range(w // 8)
            ]
            base = assemble_jpeg(
                w, h, _FIXTURE_QT, blocks, restart_interval=3 if d % 6 == 0 else 0
            )
        assert b"\xff\xc2" in prog and b"\xff\xc2" not in base
        assert jpeg_planes(prog) == jpeg_planes(base), f"doc {d}"

    # scan script shape: 1 DC first + per-comp band first scans + DC
    # refine + per-comp band refines = 6 scans grayscale, 14 color
    import re

    def scan_count(p):
        # count SOS segment HEADERS (marker followed by a plausible
        # ns in 1..3), not entropy-data coincidences
        return len(re.findall(b"\xff\xda\x00.[\x01-\x03]", p, re.DOTALL))

    assert scan_count(synth_jpeg_progressive(2)) == 6
    assert scan_count(synth_jpeg_progressive(3)) == 14
    # DRI rebinding: the restart variant emits DRI twice (Ri, then 0)
    ri_doc = synth_jpeg_progressive(6)
    assert ri_doc.count(b"\xff\xdd") == 2 and b"\xff\xd0" in ri_doc

    # 0xFF fill bytes may precede any marker (T.81 B.1.1.2), EOI included
    for p in (synth_jpeg_progressive(3), synth_jpeg_420(3)):
        assert jpeg_planes(p[:-2] + b"\xff\xff\xff\xd9") == jpeg_planes(p)


def test_avi_mjpeg_codec_round_trip():
    """avi_decode must route on the strf compression fourcc: MJPG
    containers decode each 00dc chunk as a complete JPEG (alternating
    baseline/progressive fixtures), sum all decoded plane samples, and
    validate frame geometry against the container; unknown fourccs stay
    a stated NotImplementedError seam naming the codec."""
    import struct

    from financedatabase_spark.operators.jpeg import jpeg_planes, synth_jpeg
    from financedatabase_spark.operators.multimodal import (
        MJPEG_FRAME_CAP,
        avi_decode,
        synth_avi_mjpeg,
    )

    for doc_id in (1, 3, 9, 257, 12345):
        payload = synth_avi_mjpeg(doc_id)
        n = 6 + doc_id % 4
        assert len(payload) == 224 + (8 + MJPEG_FRAME_CAP) * n
        # independent recomputation straight through jpeg_planes
        want = [0] * 8
        for f in range(n):
            _, _, planes = jpeg_planes(synth_jpeg(6 * (doc_id * 13 + f)))
            want[f * 8 // n] += sum(sum(p) for p in planes)
        assert avi_decode(payload) == [float(v) for v in want]
        # the frame mix really alternates containers
        assert b"\xff\xc2" in synth_jpeg(6 * (doc_id * 13 + (doc_id + 1) % 2))
        assert b"\xff\xc2" not in synth_jpeg(6 * (doc_id * 13 + doc_id % 2))

    # a frame whose SOF geometry disagrees with the container must fail
    p = bytearray(synth_avi_mjpeg(1))
    at = p.find(b"00dc") + 8
    wide = synth_jpeg(8)  # width 32
    bad = bytes(p[:at]) + wide + bytes(MJPEG_FRAME_CAP - len(wide)) + bytes(p[at + MJPEG_FRAME_CAP:])
    with pytest.raises(ValueError, match="geometry"):
        avi_decode(bad)

    # unknown compression fourcc: loud seam naming the codec
    strf_at = p.find(b"strf") + 8  # chunk id + size -> BITMAPINFOHEADER
    struct.pack_into("<I", p, strf_at + 16, int.from_bytes(b"cvid", "little"))
    with pytest.raises(NotImplementedError, match="cvid"):
        avi_decode(bytes(p))


def test_jpeg_sampling_variants_round_trip():
    """4:2:2 and 4:4:4 fixtures (and 4:4:0, exercised directly) decode
    to exactly the formula pixels — the chroma plane geometry follows
    the SOF sampling factors, including the padded-MCU 4:2:2 width-24
    case and restart markers at doc%6==5. The 16-bit-DQT grayscale
    variant (doc%8==4) decodes identically to its 8-bit twin."""
    from financedatabase_spark.operators.jpeg import (
        JPEG_H,
        _FIXTURE_QT,
        _y_block_zz,
        assemble_jpeg,
        jpeg_planes,
        synth_jpeg,
        synth_jpeg_color,
    )

    def lum(d, x, y):
        v = (d * 17 + (y // 8) * 31 + (x // 8) * 7) % 251 + 2
        if y >= 8:
            v += ((d + x // 8) % 5 - 2) * [1, -1, -1, 1, 1, -1, -1, 1][x % 8]
        return v

    for d, sampling in [(5, (2, 1)), (7, (1, 1)), (23, (2, 1)), (9, (1, 2)),
                        (13, (2, 1)), (15, (1, 1))]:
        hs, vs = sampling
        w, h = 16 + (d % 3) * 8, JPEG_H
        pw, ph, planes = jpeg_planes(synth_jpeg_color(d, sampling))
        assert (pw, ph) == (w, h) and len(planes) == 3
        dx, dy = 8 * hs, 8 * vs
        for y in range(h):
            for x in range(w):
                assert planes[0][y * w + x] == lum(d, x, y), (d, sampling, x, y)
                assert planes[1][y * w + x] == (d * 29 + (x // dx) * 13 + (y // dy) * 11) % 251 + 2
                assert planes[2][y * w + x] == (d * 23 + (x // dx) * 7 + (y // dy) * 19) % 251 + 2

    # 16-bit DQT: same values, wider encoding, identical decode
    for d in (4, 12, 28):
        w, h = 16 + (d % 3) * 8, JPEG_H
        blocks = [
            _y_block_zz(d, bx, by) for by in range(h // 8) for bx in range(w // 8)
        ]
        ri = 3 if d % 6 == 0 else 0
        p8 = assemble_jpeg(w, h, _FIXTURE_QT, blocks, restart_interval=ri)
        p16 = assemble_jpeg(w, h, _FIXTURE_QT, blocks, restart_interval=ri, qt_16bit=True)
        assert len(p16) == len(p8) + 64  # 64 extra table bytes
        assert jpeg_planes(p16) == jpeg_planes(p8)
        assert synth_jpeg(d) == p16  # the doc%8==4 mix slot IS the 16-bit twin


def test_jpeg_noninterleaved_multiscan_round_trip():
    """Non-interleaved sequential JPEG (one full-band scan per
    component) decodes to exactly the interleaved twin's pixels — across
    samplings, the padded-MCU 4:2:2 width-24 case (where the
    non-interleaved grid is SMALLER than the interleaved one), and
    per-scan restart markers. A stream missing a component's scan fails
    loudly at EOI."""
    from financedatabase_spark.operators.jpeg import jpeg_planes, synth_jpeg_color

    for d, sampling in [(7, (1, 1)), (5, (2, 1)), (1, (2, 2)), (9, (1, 2)),
                        (23, (2, 1)), (47, (1, 1))]:  # 23/47: restarts live
        ms = synth_jpeg_color(d, sampling, multiscan=True)
        il = synth_jpeg_color(d, sampling, multiscan=False)
        assert ms.count(b"\xff\xda") >= 3 and il.count(b"\xff\xda") >= 1
        assert jpeg_planes(ms) == jpeg_planes(il), (d, sampling)

    p = synth_jpeg_color(7, (1, 1), multiscan=True)
    second_sos = p.find(b"\xff\xda", p.find(b"\xff\xda") + 2)
    with pytest.raises(ValueError, match="missing scans"):
        jpeg_planes(p[:second_sos] + b"\xff\xd9")


def test_quant_table_latched_at_first_scan():
    """Each component dequantizes with the table its slot held at the
    component's first scan (libjpeg's latch_quant_tables): a DQT that
    redefines the slot after that scan changes no pixel — for a
    progressive grayscale stream, whose later scans refine the same
    component, and for a sequential one-scan-per-component color stream."""
    import struct

    from financedatabase_spark.operators.jpeg import (
        jpeg_frame,
        synth_jpeg,
        synth_jpeg_color,
    )

    flat_qt = b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([1] * 64)
    for payload in (synth_jpeg(2), synth_jpeg_color(7, (1, 1), multiscan=True)):
        first = payload.index(b"\xff\xda")
        second = payload.index(b"\xff\xda", first + 2)
        redefined = payload[:second] + flat_qt + payload[second:]
        assert jpeg_frame(redefined) == jpeg_frame(payload)


def test_grid_resize_hand_example():
    """grid_resize box means: exact floor-integer means over the floor-
    boundary boxes, including non-uniform boxes when the grid does not
    divide the image."""
    from financedatabase_spark.operators.multimodal import grid_resize

    # 4x2 image -> 2x2 grid: boxes are 2x1 pixels
    plane = [10, 20, 30, 40,
             50, 61, 70, 81]
    assert grid_resize(plane, 4, 2, 2, 2) == [15, 35, 55, 75]
    # 3x1 -> 2x1: boxes [0,1) and [1,3) (floor boundaries), means floor
    assert grid_resize([10, 20, 31], 3, 1, 2, 1) == [10, 25]
    with pytest.raises(ValueError, match="exceeds"):
        grid_resize([1], 1, 1, 2, 2)


def test_png_palette_and_adam7_variants():
    """The PNG mix now cycles gray / PALETTE / ADAM7 / distinct-channel
    RGB / GRAY+ALPHA / RGBA / 16-bit gray / 16-bit RGBA (doc%8) with
    layout-invariant luma; packed palette depths (1/2/4 bits, MSB-first)
    and tiny Adam7 images with EMPTY passes decode exactly; out-of-range
    palette indices fail loudly."""
    import struct
    import zlib

    from financedatabase_spark.operators.multimodal import (
        _ADAM7,
        _filter_encode,
        _png_chunk,
        png_decode,
        synth_png,
    )

    # every corpus variant reproduces the layout-invariant luma formula
    for doc_id in (0, 1, 2, 3, 4, 5, 6, 7, 13, 14, 15, 256, 257, 258, 259, 260):
        w = 8 + (doc_id % 3) * 4
        counts = [0] * 8
        for y in range(16):
            for x in range(w):
                counts[((doc_id * 17 + y * 31 + x * 7) % 256) * 8 // 256] += 1
        assert png_decode(synth_png(doc_id)) == [c / (w * 16) for c in counts], doc_id

    # structural: the variants really differ in layout
    assert b"PLTE" in synth_png(1) and b"PLTE" not in synth_png(0)
    assert synth_png(2)[28] == 1  # IHDR interlace byte = Adam7
    assert struct.unpack_from(">IIBBBBB", synth_png(3), 16)[3] == 2  # RGB
    assert struct.unpack_from(">IIBBBBB", synth_png(4), 16)[3] == 4  # gray+alpha
    assert struct.unpack_from(">IIBBBBB", synth_png(5), 16)[3] == 6  # RGBA
    assert struct.unpack_from(">IIBBBBB", synth_png(6), 16)[2:4] == (16, 0)
    assert struct.unpack_from(">IIBBBBB", synth_png(7), 16)[2:4] == (16, 6)

    # packed 2-bit palette, 3x2 image, hand-checked: indices 0..3 map to
    # PLTE lumas 10/20/30/40
    plte = bytes([10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40])
    rows = [[0b00_01_10_00], [0b11_11_00_00]]  # (0,1,2), (3,3,0)
    png2 = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 2, 3, 0, 0, 0))
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes(_filter_encode(rows, 1))))
        + _png_chunk(b"IEND", b"")
    )
    # lumas: 10,20,30 / 40,40,10 -> bins v*8//256: 0,0,0 / 1,1,0
    assert png_decode(png2) == [4 / 6, 2 / 6, 0, 0, 0, 0, 0, 0]

    # 1x1 Adam7: only pass 1 is non-empty (passes 2-7 have zero pixels)
    png1 = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 200])))
        + _png_chunk(b"IEND", b"")
    )
    assert png_decode(png1, dim=2) == [0.0, 1.0]

    # out-of-range palette index: loud ValueError
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + _png_chunk(b"PLTE", bytes([1, 1, 1]))
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 7])))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        png_decode(bad)

    # RGBA is SUPPORTED: 1x1 fully-transparent red still has red's luma
    # (straight alpha — the luma histogram ignores the alpha sample)
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 255, 0, 0, 0])))
        + _png_chunk(b"IEND", b"")
    )
    # luma 255//3 = 85 -> bin 85*3//256 = 0
    assert png_decode(rgba, dim=3) == [1.0, 0.0, 0.0]

    # 16-bit gray: the high byte is the luma; the low byte is dropped
    g16 = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 0x10, 0xFF, 0xF0, 0x01])))
        + _png_chunk(b"IEND", b"")
    )
    assert png_decode(g16, dim=2) == [0.5, 0.5]  # lumas 0x10, 0xF0

    # undefined color types still fail loudly
    bad_ct = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 5, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(2)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="color type"):
        png_decode(bad_ct)


def test_pyav_route_absent_branch():
    """Without PyAV the compressed-video route fails loudly with the
    install hint — for a bare mp4 payload AND for a compressed-AVI
    fourcc falling through the stdlib path."""
    import struct
    import sys

    from financedatabase_spark.operators.multimodal import (
        dispatch_decode,
        pyav_video_decode,
    )

    if "av" in sys.modules or __import__("importlib.util", fromlist=["util"]).find_spec("av"):
        pytest.skip("PyAV installed: absent branch not testable here")

    with pytest.raises(NotImplementedError, match="PyAV/ffmpeg"):
        pyav_video_decode(b"\x00\x00\x00\x18ftypmp42")
    with pytest.raises(NotImplementedError, match="PyAV/ffmpeg"):
        dispatch_decode(b"\x00\x00\x00\x18ftypmp42", media_type="video/mp4")

    # compressed-AVI: stdlib raises, pyav fallback raises, both named
    def _minimal_avi(fourcc: bytes) -> bytes:
        def chunk(cid, data):
            return cid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) % 2 else b"")

        avih = chunk(b"avih", struct.pack("<10I", 0, 0, 0, 0, 1, 0, 1, 0, 2, 2))
        strf = chunk(b"strf", struct.pack("<IiiHHI", 40, 2, 2, 1, 24,
                                          int.from_bytes(fourcc, "little")) + b"\x00" * 16)
        strl = chunk(b"LIST", b"strl" + strf)
        hdrl = chunk(b"LIST", b"hdrl" + avih + strl)
        movi = chunk(b"LIST", b"movi" + chunk(b"00dc", b"\x01\x02\x03\x04"))
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    with pytest.raises(NotImplementedError, match="H264.*PyAV|PyAV"):
        dispatch_decode(_minimal_avi(b"H264"), media_type="video/avi")


def test_pyav_route_present_branch(monkeypatch):
    """With PyAV importable (faked here — the container has no ffmpeg)
    the dispatch routes compressed video through it and the feature
    contract matches avi_decode's windowed frame-sum shape."""
    import sys
    import types

    import numpy as np

    from financedatabase_spark.operators.multimodal import (
        dispatch_decode,
        pyav_video_decode,
    )

    n_frames, dim = 10, 8
    frames_np = [
        np.full((2, 2, 3), f + 1, dtype=np.uint8) for f in range(n_frames)
    ]
    frame_sums = [int(a.astype("int64").sum()) for a in frames_np]
    want = [0.0] * dim
    for f, s in enumerate(frame_sums):
        want[f * dim // n_frames] += s

    class _Frame:
        def __init__(self, arr):
            self._arr = arr

        def to_ndarray(self, format):
            assert format == "rgb24"
            return self._arr

    class _Container:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def decode(self, video=0):
            assert video == 0
            return iter(_Frame(a) for a in frames_np)

    fake_av = types.ModuleType("av")
    fake_av.open = lambda fobj: _Container()
    monkeypatch.setitem(sys.modules, "av", fake_av)

    payload = b"\x00\x00\x00\x18ftypmp42-fake-bytes"
    assert pyav_video_decode(payload, dim) == want
    assert dispatch_decode(payload, media_type="video/mp4", dim=dim) == want


def test_wav_float_formats_and_seams():
    """The RIFF fallback decodes IEEE float32/float64 (stereo mixes by
    exact mean), skips fact/unknown chunks, and names the remaining
    compressed-format seam loudly."""
    import struct

    from financedatabase_spark.operators.multimodal import wav_decode

    def riff(tag, ch, bits, data, extra_chunks=b""):
        fmt = struct.pack("<HHIIHHH", tag, ch, 8000, 8000 * ch * bits // 8,
                          ch * bits // 8, bits, 0)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + extra_chunks
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # float32 stereo: mono-mix is the exact mean
    data = struct.pack("<4f", 0.5, -0.25, 1.0, 1.0)  # frames: (0.5,-0.25),(1,1)
    fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", 2)
    assert wav_decode(riff(3, 2, 32, data, fact), dim=2) == [0.125, 1.0]

    # float64 mono
    data64 = struct.pack("<2d", -0.75, 0.5)
    assert wav_decode(riff(3, 1, 64, data64), dim=2) == [0.75, 0.5]

    # G.711 mu-law/A-law (tags 7/6): segmented expansions, validated
    # exhaustively against a SHA-256 of the full 256-entry table
    # precomputed from CPython 3.11's audioop (removed in 3.13, so the
    # digest is the portable oracle; audioop itself is cross-checked
    # below when the interpreter still ships it).
    import hashlib

    from financedatabase_spark.operators.multimodal import (
        alaw_to_linear,
        ulaw_to_linear,
    )

    table_sha = {
        # sha256(struct.pack("<256h", *[law(b) for b in range(256)]))
        ulaw_to_linear: (
            "3dab54339e520bb2c924826e3b72a917a2b612e9fd12fc867500f1d983a75827"
        ),
        alaw_to_linear: (
            "e04788d110e58ff8c70c93b8480190d973e3b67876b6119abbaec766cc75c174"
        ),
    }
    for law, digest in table_sha.items():
        blob = struct.pack("<256h", *[law(b) for b in range(256)])
        assert hashlib.sha256(blob).hexdigest() == digest

    # Spot values straight off the ITU-T G.711 segment tables
    assert ulaw_to_linear(0x00) == -32124
    assert ulaw_to_linear(0xFF) == 0
    assert alaw_to_linear(0x00) == -5504
    assert alaw_to_linear(0xFF) == 848

    try:  # exhaustive cross-check while the stdlib still ships audioop
        import audioop  # removed in Python 3.13
    except ImportError:
        audioop = None
    if audioop is not None:
        for b in range(256):
            assert ulaw_to_linear(b) == struct.unpack(
                "<h", audioop.ulaw2lin(bytes([b]), 2))[0]
            assert alaw_to_linear(b) == struct.unpack(
                "<h", audioop.alaw2lin(bytes([b]), 2))[0]

    for tag, law in ((7, ulaw_to_linear), (6, alaw_to_linear)):
        data = bytes(range(0, 256, 16))  # 16 samples spanning segments
        want = [abs(law(b)) for b in data]
        got = wav_decode(riff(tag, 1, 8, data), dim=16)
        assert got == [float(v) for v in want]

    # G.711 STEREO mixes with integer truncation toward zero, matching
    # the PCM branch — the same audio must mix identically whichever
    # container carries it (review r12): ulaw bytes 0x00,0x13 decode to
    # -32124, -27388 -> trunc((-32124 + -27388)/2) = -29756
    l0, r0 = ulaw_to_linear(0x00), ulaw_to_linear(0x13)
    assert (l0 + r0) % 2 != 0 or True  # fixture sanity only
    got = wav_decode(riff(7, 2, 8, bytes([0x00, 0x13])), dim=1)
    assert got == [float(abs(int((l0 + r0) / 2)))]

    # GSM (49), IMA (17) and MS ADPCM (2) all decode now; mp3-in-WAV
    # (85) stays a loud seam unless PyAV is importable (then it
    # decodes for real — see test_mp3_in_wav_real_decode_probe). A GSM
    # fmt chunk without the samplesPerBlock extension is malformed,
    # not a seam.
    try:
        import av  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="tag 85"):
            wav_decode(riff(85, 1, 0, b"\x00\x00"))
    with pytest.raises(ValueError, match="GSM fmt chunk"):
        wav_decode(riff(49, 1, 0, b"\x00\x00"))


def test_wav_ima_adpcm_round_trip():
    """The IMA ADPCM state machine must round-trip the synth fixture:
    header predictor is emitted verbatim as sample 0, nibbles step the
    (pred, index) recursion with the shared step/index tables, clamps
    included (index 88 fixtures saturate)."""
    from financedatabase_spark.operators.multimodal import (
        ima_adpcm_step,
        synth_wav_adpcm,
        wav_decode,
    )

    for d in (0, 1, 7, 63, 88, 89, 150, 12345):
        n = 201 + 2 * (d % 64)
        pred, idx = (d * 7919) % 65536 - 32768, d % 89
        samples = [pred]
        for t in range(n - 1):
            pred, idx = ima_adpcm_step(pred, idx, (d * 7 + t * 13) % 16)
            samples.append(pred)
        want = [0.0] * 8
        for t, s in enumerate(samples):
            want[t * 8 // n] += abs(s)
        assert wav_decode(synth_wav_adpcm(d)) == want
        assert len(synth_wav_adpcm(d)) == 64 + (n - 1) // 2


def test_wav_ms_adpcm_round_trip():
    """The Microsoft ADPCM second-order predictor must round-trip the
    synth fixture: the two header samples are emitted verbatim (sample2
    first), each HIGH-first nibble steps pred = clamp(trunc((s1*c1 +
    s2*c2)/256) + signed*delta) with the 16-entry adaptation recurrence
    on delta (floor 16). The recomputation here is written from the
    spec, independent of the decoder's code, and the delta trajectory is
    asserted bounded (the fixture's nibble mix is designed so the
    oracle's BIGINT recurrence cannot overflow)."""
    from financedatabase_spark.operators.multimodal import (
        MS_ADAPT,
        MS_COEFS,
        synth_wav_msadpcm,
        wav_decode,
    )

    for d in (0, 1, 2, 6, 7, 39, 40, 127, 12345):
        k = 60 + d % 40
        n = 2 + 2 * k
        c1, c2 = MS_COEFS[d % 7]
        delta = 16 + (d * 31) % 4000
        s1 = (d * 7919) % 65536 - 32768
        s2 = (d * 104729) % 65536 - 32768
        samples = [s2, s1]
        max_delta = delta
        for t in range(n - 2):
            x = (d * 11 + t * 5) % 64
            code = x if x < 16 else x % 4
            prod = s1 * c1 + s2 * c2
            base = prod // 256 if prod >= 0 else -((-prod) // 256)
            signed = code - 16 if code >= 8 else code
            pred = max(-32768, min(32767, base + signed * delta))
            samples.append(pred)
            s2, s1 = s1, pred
            delta = max(16, (MS_ADAPT[code] * delta) // 256)
            max_delta = max(max_delta, delta)
        assert max_delta < 2**22  # oracle BIGINT recurrence stays tiny
        want = [0.0] * 8
        for t, s in enumerate(samples):
            want[t * 8 // n] += abs(s)
        payload = synth_wav_msadpcm(d)
        assert wav_decode(payload) == want
        assert len(payload) == 97 + k  # 40 container + 50 fmt + 7 + k


def test_wav_gsm_round_trip():
    """The GSM 06.10 RPE-LTP decoder must round-trip the synth fixture:
    the recomputation here is written straight from the ETSI spec
    formulas (LAR decode -> zone-interpolated reflection coefficients,
    APCM dequant, RPE grid, long-term synthesis, 8-stage lattice,
    de-emphasis with upscale/truncate), independent of the decoder's
    own helpers except the public constant tables."""
    from financedatabase_spark.operators.multimodal import (
        GSM_FAC,
        GSM_LAR_B,
        GSM_LAR_INVA,
        GSM_LAR_MIC,
        GSM_QLB,
        synth_wav_gsm,
        wav_decode,
    )

    def sat(x):
        return max(-32768, min(32767, x))

    def mr(a, b):
        return sat((a * b + 16384) >> 15)

    for d in (0, 1, 2, 3, 7, 63, 88, 12345, 49_000_123):
        larc = [(d * p) % r for p, r in zip(
            (17, 29, 13, 7, 11, 23, 5, 3), (64, 64, 32, 32, 16, 16, 8, 8))]
        larpp = []
        for i in range(8):
            t = sat((larc[i] + GSM_LAR_MIC[i]) * 1024 - 2 * GSM_LAR_B[i])
            larpp.append(sat(2 * mr(GSM_LAR_INVA[i], t)))

        def rp_of(l):
            a = 32767 if l == -32768 else abs(l)
            v = a * 2 if a < 11059 else (a + 11059 if a < 20070
                                         else sat((a >> 2) + 26112))
            return -v if l < 0 else v

        hist, v, msr = [0] * 120, [0] * 9, 0
        samples = []
        for t in range(320):
            j, k = t // 40, t % 40
            mc = (d * 3 + j) % 4
            xmaxc = 16 + (d * 7 + j * 11) % 48
            nc = 40 + (d * 5 + j * 17) % 81
            brp = GSM_QLB[(d + j) % 4]
            temp2 = 7 - xmaxc // 8
            temp3 = (1 << (temp2 - 1)) if temp2 else 0
            erp = 0
            if k >= mc and (k - mc) % 3 == 0 and (k - mc) // 3 <= 12:
                xmc = (d * 11 + j * 7 + ((k - mc) // 3) * 5) % 8
                erp = sat(mr(GSM_FAC[xmaxc % 8], (xmc * 2 - 7) << 12)
                          + temp3) >> temp2
            drp = sat(erp + mr(brp, hist[-nc]))
            hist = (hist + [drp])[-120:]
            tif = t % 160
            if tif >= 40:
                rp = [rp_of(x) for x in larpp]
            else:
                old = [0] * 8 if t < 160 else larpp
                if tif < 13:
                    mix = [sat(sat((o >> 2) + (n >> 2)) + (o >> 1))
                           for o, n in zip(old, larpp)]
                elif tif < 27:
                    mix = [sat((o >> 1) + (n >> 1)) for o, n in zip(old, larpp)]
                else:
                    mix = [sat(sat((o >> 2) + (n >> 2)) + (n >> 1))
                           for o, n in zip(old, larpp)]
                rp = [rp_of(x) for x in mix]
            sri = drp
            for i in range(7, -1, -1):
                sri = sat(sri - mr(rp[i], v[i]))
                v[i + 1] = sat(v[i] + mr(rp[i], sri))
            v[0] = sri
            msr = sat(sri + mr(msr, 28180))
            samples.append(sat(msr + msr) & ~7)
        want = [0.0] * 8
        for t, s in enumerate(samples):
            want[t // 40] += abs(s)
        payload = synth_wav_gsm(d)
        assert wav_decode(payload) == want
        assert len(payload) == 125  # 40 container + 20 fmt + 65 data


def test_gsm_decoder_edges():
    """General-path coverage the fixture's oracle regime skips: sub-16
    xmaxc (mantissa normalization loop), xmaxc == 0 (the exp=-4/mant=7
    silence case), out-of-range LTP lag falling back to the previous
    valid lag, state continuity across blocks, and truncated streams
    failing loud."""
    from financedatabase_spark.operators.multimodal import (
        _decode_gsm,
        _gsm_apcm_dequant,
        _GsmState,
        _gsm_decode_frame,
    )

    # normalization: xmaxc = 5 -> mant 5 -> (11, exp-1) -> FAC[3];
    # against the spec recomputation for all sub-16 values
    for xmaxc in range(16):
        exp, mant = 0, xmaxc
        if mant == 0:
            exp, mant = -4, 7
        else:
            while mant <= 7:
                mant = (mant << 1) | 1
                exp -= 1
            mant -= 8
        got = _gsm_apcm_dequant(xmaxc, list(range(8)))
        assert len(got) == 8 and all(isinstance(x, int) for x in got)
        # reference value for code 7 (max positive)
        from financedatabase_spark.operators.multimodal import GSM_FAC
        t2 = 6 - exp
        t3 = (1 << (t2 - 1)) if t2 > 0 else 0
        t = (GSM_FAC[mant] * (7 * 2 - 7 << 12) + 16384) >> 15
        assert got[7] == (max(-32768, min(32767, t + t3))) >> t2

    # out-of-range Nc (< 40 or > 120) falls back to the previous lag
    st = _GsmState()
    sub_ok = (60, 1, 0, 20, [3] * 13)
    sub_bad = (7, 1, 0, 20, [3] * 13)  # illegal lag 7
    _gsm_decode_frame(st, [32] * 8, [sub_ok] * 4)
    assert st.nrp == 60
    _gsm_decode_frame(st, [32] * 8, [sub_bad] * 4)
    assert st.nrp == 60  # kept the previous valid lag

    # state continuity: two one-block streams decoded separately differ
    # from the same two blocks decoded as one stream (LTP history, the
    # lattice and de-emphasis all carry across the block boundary)
    from financedatabase_spark.operators.multimodal import synth_wav_gsm

    raw = synth_wav_gsm(9)
    data = raw[raw.index(b"data") + 8:]
    assert len(data) == 65
    one = _decode_gsm(data, 65, 320)
    two = _decode_gsm(data + data, 65, 320)
    assert two[:320] == one and two[320:] != one

    with pytest.raises(ValueError, match="GSM data truncated"):
        _decode_gsm(data + data[:64], 65, 320)
    with pytest.raises(ValueError, match="cannot hold"):
        _decode_gsm(data, 32, 320)


def test_adpcm_truncated_block_raises():
    """A data chunk whose tail is shorter than the block HEADER is a
    truncated stream, not a short final block — both stateful block
    codecs must fail loud instead of silently dropping the tail (the
    fail-loud posture the rest of the codec tier follows)."""
    from financedatabase_spark.operators.multimodal import (
        MS_COEFS,
        _decode_ima_adpcm,
        _decode_ms_adpcm,
    )

    # one exactly-full IMA block (align 8: 4-byte header + 4 nibble
    # bytes) decodes; the same stream cut 3 bytes into the next block's
    # header must raise the named truncation error
    full = bytes([0, 0, 0, 0, 0x21, 0x43, 0x65, 0x87])
    assert len(_decode_ima_adpcm(full, 8, 9)) == 9
    for tail in range(1, 4):
        with pytest.raises(ValueError, match="IMA ADPCM data truncated"):
            _decode_ima_adpcm(full + full[:tail], 8, 9)
    # a short-but-complete final block (header + fewer nibble bytes)
    # still decodes: samples_per_block caps emission, no error
    assert len(_decode_ima_adpcm(full + full[:6], 8, 9)) == 9 + 5

    # same contract for MS ADPCM (7-byte header, align 9)
    msfull = bytes([0]) + b"\x10\x00\x01\x00\x02\x00" + bytes([0x10, 0x32])
    assert len(_decode_ms_adpcm(msfull, 9, 6, MS_COEFS)) == 6
    for tail in range(1, 7):
        with pytest.raises(ValueError, match="MS ADPCM data truncated"):
            _decode_ms_adpcm(msfull + msfull[:tail], 9, 6, MS_COEFS)
    assert len(_decode_ms_adpcm(msfull + msfull[:8], 9, 6, MS_COEFS)) == 6 + 4


def test_jpeg_lossless_round_trip_all_predictors():
    """SOF3 lossless: decode must reproduce the synthesis pixels EXACTLY
    for every Annex H predictor (1-7) at 8-bit, and at deep 12/16-bit
    precisions where the DCT paths don't go — including the modulo-2^16
    difference arithmetic that 16-bit predictor overshoot exercises."""
    from financedatabase_spark.operators.jpeg import (
        jpeg_planes,
        synth_jpeg_lossless,
    )

    for doc_id in range(14):  # two full predictor cycles, all widths
        for prec in (8, 12, 16):
            w, h, planes = jpeg_planes(synth_jpeg_lossless(doc_id, prec))
            assert (w, h) == (16 + (doc_id % 3) * 8, 16)
            assert planes[0] == [
                (doc_id * 31 + y * 17 + x * 7) % (1 << prec)
                for y in range(16)
                for x in range(w)
            ]


def test_jpeg_lossless_seams_and_validation():
    """The lossless paths not implemented stay loud: multi-component
    scans, point transform, restart markers; bad predictor selectors and
    precisions are ValueError at build time."""
    import struct

    from financedatabase_spark.operators.jpeg import (
        LL_BITS,
        LL_VALS,
        _segments,
        assemble_jpeg_lossless,
        jpeg_planes,
        synth_jpeg_lossless,
    )

    with pytest.raises(ValueError, match="predictor"):
        assemble_jpeg_lossless(4, 4, [0] * 16, predictor=0)
    with pytest.raises(ValueError, match="precision"):
        assemble_jpeg_lossless(4, 4, [0] * 16, predictor=1, prec=17)

    raw = synth_jpeg_lossless(5)

    def rebuild(sos_payload, sof_payload=None):
        sof = sof_payload or (struct.pack(">BHHB", 8, 4, 4, 1) + bytes([1, 0x11, 0]))
        dht = bytes([0x00]) + bytes(LL_BITS) + bytes(LL_VALS)
        return (
            b"\xff\xd8" + _segments((0xC4, dht), (0xC3, sof), (0xDA, sos_payload))
            + b"\x00" * 8 + b"\xff\xd9"
        )

    # point transform at/above the precision is malformed (Al=9, prec=8)
    with pytest.raises(ValueError, match="point transform"):
        jpeg_planes(rebuild(bytes([1, 1, 0x00, 1, 0, 9])))
    # bad predictor selector in the stream
    with pytest.raises(ValueError, match="selector"):
        jpeg_planes(rebuild(bytes([1, 1, 0x00, 0, 0, 0])))
    # PARTIAL lossless subsets (2 of 3 components in one scan) stay a
    # seam; fully interleaved and single-component scans decode (r14)
    sof3c = struct.pack(">BHHB", 8, 4, 4, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos2c = bytes([2, 1, 0x00, 2, 0x00, 1, 0, 0])
    with pytest.raises(NotImplementedError, match="partial subsets"):
        jpeg_planes(rebuild(sos2c, sof3c))
    # a duplicate component id within one lossless scan is malformed
    sosdup = bytes([3, 1, 0x00, 1, 0x00, 3, 0x00, 1, 0, 0])
    with pytest.raises(ValueError, match="twice in one scan"):
        jpeg_planes(rebuild(sosdup, sof3c))
    # a restart interval that is NOT a whole number of sample rows has
    # no well-defined "first line of the interval" (H.1.1) — refused
    dri = _segments((0xDD, struct.pack(">H", 3)))  # w=4: 3 MCUs is mid-row
    soi_end = raw.index(b"\xff\xc3")
    with pytest.raises(NotImplementedError, match="sample rows"):
        jpeg_planes(raw[:soi_end] + dri + raw[soi_end:])

    # Corrupt-but-parseable: reconstruction is modulo 2^16, so a stream
    # whose SOF precision lies low can land samples >= 2^prec — decode
    # must raise a NAMED error, not let histogram binning IndexError.
    # Build a valid 16-bit all-zeros stream, then patch the SOF
    # precision byte to 8: the first-pixel prediction changes from
    # 2^15 to 2^7 so the decoded sample lands way above 255.
    raw16 = assemble_jpeg_lossless(4, 4, [0] * 16, predictor=1, prec=16)
    sof_at = raw16.index(b"\xff\xc3")
    patched = bytearray(raw16)
    assert patched[sof_at + 4] == 16  # SOF payload precision byte
    patched[sof_at + 4] = 8
    with pytest.raises(ValueError, match="exceeds declared precision"):
        jpeg_planes(bytes(patched))


def test_jpeg_12bit_extended_sequential():
    """SOF1 at precision 12: level shift 2048 and clamp 4095 must follow
    the SOF precision — the DC-only fixtures decode to dc + 2048 exactly
    — while baseline (SOF0) and progressive (SOF2) stay 8-bit-only. The
    arithmetic progressive process (SOF10) rebuilds a 12-bit frame like
    its sequential twin SOF9 over the same coefficients."""
    from financedatabase_spark.operators.jpeg import (
        _FIXTURE_QT,
        assemble_jpeg,
        assemble_jpeg_progressive,
        jpeg_decode,
        jpeg_frame,
        jpeg_planes,
        synth_jpeg12,
    )

    for d in (0, 1, 2, 5, 12345):
        w, h, planes = jpeg_planes(synth_jpeg12(d))
        bx = w // 8
        for b in range(bx * 2):
            dc = (d * 29) % 3000 - 1500 + (b * 37 + d) % 500
            by, bxx = divmod(b, bx)
            assert planes[0][(by * 8) * w + bxx * 8] == dc + 2048
        feats = jpeg_decode(synth_jpeg12(d))
        assert abs(sum(feats) - 1.0) < 1e-12 and len(feats) == 8

    # the same 12-bit coefficients as SOF9 and as SOF10 (the progressive
    # arithmetic container with its SOF precision byte set to 12)
    blocks = []
    for b in range(6):
        bz = [0] * 64
        bz[0] = (b * 611) % 3000 - 1500
        bz[14] = b % 5 - 2
        blocks.append(bz)
    seq = jpeg_frame(assemble_jpeg(24, 16, _FIXTURE_QT, blocks, prec=12, arith=True))
    prog = bytearray(assemble_jpeg_progressive(24, 16, _FIXTURE_QT, blocks, arith=True))
    sof10 = prog.index(b"\xff\xca")
    prog[sof10 + 4] = 12
    assert seq[3] == 12 and max(seq[2][0]) > 255  # no 8-bit clamp
    assert jpeg_frame(bytes(prog)) == seq

    # 12-bit under the BASELINE marker is rejected (T.81 Table B.2)
    qt = [8] * 64
    with pytest.raises(ValueError, match="SOF1"):
        assemble_jpeg(8, 8, qt, [[100] + [0] * 63], prec=12)
    # one frame marker per stream: extended Huffman or arithmetic
    with pytest.raises(ValueError, match="sof1 and arith"):
        assemble_jpeg(8, 8, qt, [[100] + [0] * 63], sof1=True, arith=True)
    good12 = synth_jpeg12(3)
    sof_at = good12.index(b"\xff\xc1")
    base_flip = good12[:sof_at + 1] + b"\xc0" + good12[sof_at + 2:]
    with pytest.raises(NotImplementedError, match="8-bit"):
        jpeg_planes(base_flip)
    prog_flip = good12[:sof_at + 1] + b"\xc2" + good12[sof_at + 2:]
    with pytest.raises(NotImplementedError, match="8-bit"):
        jpeg_planes(prog_flip)


def test_jpeg_encoder_value_outside_code_table_names_it():
    """A value the fixture encoder's Huffman tables cannot code raises a
    ValueError naming the table and the category instead of a bare
    KeyError: a 12-bit DC difference past the Annex K DC table's
    categories 0-11 under SOF1, and a progressive AC magnitude past the
    compact table's sizes 1-3 after the point transform."""
    from financedatabase_spark.operators.jpeg import (
        _FIXTURE_QT,
        assemble_jpeg,
        assemble_jpeg_progressive,
    )

    blocks = []
    for b in range(6):
        bz = [0] * 64
        bz[0] = (b * 611) % 3000 - 1500
        bz[14] = b % 5 - 2
        blocks.append(bz)
    with pytest.raises(ValueError, match="Annex K DC Huffman table: no code for category 12$"):
        assemble_jpeg(24, 16, _FIXTURE_QT, blocks, prec=12, sof1=True)
    bz = [100, 0, 0, 40] + [0] * 60
    with pytest.raises(
        ValueError, match="progressive AC Huffman table: no code for run 2, category 5$"
    ):
        assemble_jpeg_progressive(8, 8, _FIXTURE_QT, [bz])


def test_jpeg_decode_precision_aware_through_dispatch():
    """Deep frames route through the MAIN histogram entry point: 12-bit
    SOF1 and 16-bit lossless payloads must bin by the frame precision
    (review r12: the 8-bit v*dim//256 binning overran the bins with an
    opaque IndexError)."""
    from financedatabase_spark.operators.jpeg import (
        jpeg_decode,
        jpeg_frame,
        synth_jpeg12,
        synth_jpeg_lossless,
    )
    from financedatabase_spark.operators.multimodal import dispatch_decode

    for payload, prec in (
        (synth_jpeg12(0), 12),
        (synth_jpeg_lossless(0, prec=16), 16),
        (synth_jpeg_lossless(5), 8),
    ):
        w, h, planes, got_prec = jpeg_frame(payload)
        assert got_prec == prec
        feats = dispatch_decode(payload, media_type="image/jpeg")
        assert feats == jpeg_decode(payload)
        assert abs(sum(feats) - 1.0) < 1e-12
        want = [0] * 8
        for v in planes[0]:
            want[(v * 8) >> prec] += 1
        assert feats == [c / (w * h) for c in want]


def test_jpeg_exotic_sampling_round_trip():
    """Exotic (but T.81-legal) sampling grids decode through the same
    generic MCU walk as the standard layouts: 3x1 / 4x1 / 1x3 / 4x2 Y
    against 1x1 chroma. Luma must equal the shared pixel formula and
    chroma at (x, y) must equal the per-MCU value at
    (x // (8*hs), y // (8*vs)) — a decoder walking the wrong grid or
    replicating at the wrong ratio cannot match. Interleaved and
    non-interleaved layouts must agree."""
    from financedatabase_spark.operators.jpeg import (
        JPEG_H,
        _U4_SIGN,
        jpeg_planes,
        synth_jpeg_color,
        synth_jpeg_progressive,
    )

    def lum(d, x, y):
        v = (d * 17 + (y // 8) * 31 + (x // 8) * 7) % 251 + 2
        if y >= 8:
            v += ((d + x // 8) % 5 - 2) * _U4_SIGN[x % 8]
        return v

    for d, (hs, vs) in [(2, (3, 1)), (7, (4, 1)), (5, (1, 3)), (11, (4, 2)),
                        (13, (3, 1)), (9, (4, 2))]:
        w = 16 + (d % 3) * 8
        pw, ph, planes = jpeg_planes(synth_jpeg_color(d, (hs, vs)))
        assert (pw, ph, len(planes)) == (w, JPEG_H, 3)
        for y in range(JPEG_H):
            for x in range(w):
                assert planes[0][y * w + x] == lum(d, x, y), (d, hs, vs, x, y)
                mx, my = x // (8 * hs), y // (8 * vs)
                assert planes[1][y * w + x] == (d * 29 + mx * 13 + my * 11) % 251 + 2
                assert planes[2][y * w + x] == (d * 23 + mx * 7 + my * 19) % 251 + 2
        ms = synth_jpeg_color(d, (hs, vs), multiscan=True)
        assert jpeg_planes(ms) == (pw, ph, planes)

    # PARTIALLY interleaved (Y-only scan + one Cb+Cr subset scan) must
    # agree with both other layouts — including with restart markers
    # (d % 6 == 5 puts DRI+RSTn in both scans) and the padded-MCU
    # width-24 geometry where the Y scan's non-interleaved grid differs
    # from the frame MCU grid
    for d, (hs, vs) in [(2, (3, 1)), (7, (4, 1)), (5, (1, 3)), (11, (4, 2)),
                        (1, (2, 2)), (9, (2, 1)), (17, (1, 1)), (23, (2, 2))]:
        il = jpeg_planes(synth_jpeg_color(d, (hs, vs)))
        pt = jpeg_planes(synth_jpeg_color(d, (hs, vs), partial=True))
        assert pt == il, (d, hs, vs)

    # NON-INTEGER replication ratio (3x1 Y against 2x1 chroma, ratio
    # 3/2): full-resolution chroma at (x, y) must read component sample
    # (x*2//3, y) — the A.1.1 sample-grid map — in ALL three scan
    # layouts; a decoder flooring to an integer ratio cannot match
    for d in (2, 7, 5, 11, 13):
        w = 16 + (d % 3) * 8
        il = jpeg_planes(synth_jpeg_color(d, (3, 1), chroma_sampling=(2, 1)))
        pw, ph, planes = il
        assert (pw, ph, len(planes)) == (w, JPEG_H, 3)
        for y in range(JPEG_H):
            for x in range(w):
                assert planes[0][y * w + x] == lum(d, x, y), (d, x, y)
                cx, cy = (x * 2 // 3) // 8, y // 8
                assert planes[1][y * w + x] == (d * 29 + cx * 13 + cy * 11) % 251 + 2
                assert planes[2][y * w + x] == (d * 23 + cx * 7 + cy * 19) % 251 + 2
        assert jpeg_planes(
            synth_jpeg_color(d, (3, 1), multiscan=True, chroma_sampling=(2, 1))
        ) == il
        assert jpeg_planes(
            synth_jpeg_color(d, (3, 1), partial=True, chroma_sampling=(2, 1))
        ) == il

    # the 10-blocks-per-MCU limit is a SCAN limit (T.81 B.2.3), not a
    # frame limit: a (4,4) frame (sum 18) decodes when delivered as
    # non-interleaved scans, and raises only on the interleaved layout
    big_ms = synth_jpeg_color(3, (4, 4), multiscan=True)
    pw, ph, planes = jpeg_planes(big_ms)
    assert (pw, ph) == (16 + 3 % 3 * 8, JPEG_H) and len(planes) == 3
    for y in range(ph):
        for x in range(pw):
            assert planes[0][y * pw + x] == lum(3, x, y)
    with pytest.raises(ValueError, match="10 .*blocks per MCU|blocks per MCU"):
        jpeg_planes(synth_jpeg_color(3, (4, 4), multiscan=False))
    # its SOF2 twin: the 4:2:0 progressive fixture with Y sampling 4x4,
    # whose interleaved DC scans hold 18 blocks per MCU
    prog = bytearray(synth_jpeg_progressive(3))
    y_hv = prog.index(b"\xff\xc2") + 11
    assert prog[y_hv] == 0x22
    prog[y_hv] = 0x44
    with pytest.raises(ValueError, match="blocks per MCU"):
        jpeg_planes(bytes(prog))


def _idct_block_reference(coef, prec=8, shift=True):
    """The plain separable IDCT `jpeg._idct_block` must equal bit for
    bit: every product recomputed inside the output loops."""
    from financedatabase_spark.operators.jpeg import _C, _COS

    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        row = coef[v * 8:(v + 1) * 8]
        if not any(row):
            continue
        for x in range(8):
            s = 0.0
            for u in range(8):
                if row[u]:
                    s += _C[u] * row[u] * _COS[u][x]
            tmp[v][x] = s
    out = [0] * 64
    lvl = (1 << (prec - 1)) if shift else 0
    bot = 0 if shift else -(1 << prec)
    top = (1 << prec) - 1
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                if tmp[v][x]:
                    s += _C[v] * tmp[v][x] * _COS[v][y]
            p = round(s / 4) + lvl
            out[y * 8 + x] = bot if p < bot else (top if p > top else p)
    return out


def _crop_planes_reference(planes_raw, samplings, w, h, hmax, vmax):
    """Per-pixel A.1.1 sample-grid map that `jpeg._crop_planes` must equal."""
    out = []
    for ci, (hs, vs) in enumerate(samplings):
        plane = planes_raw[ci]
        flat = []
        for y in range(h):
            src = plane[y * vs // vmax]
            flat.extend(src[x * hs // hmax] for x in range(w))
        out.append(flat)
    return out


def test_idct_kernel_matches_reference_bit_for_bit():
    """The hoisted, row-sparse IDCT is the reference IDCT to the last
    pixel on every block shape it special-cases (all-zero, DC-only,
    row-0-only), on blocks with one or two nonzero rows anywhere (the
    row-0 shortcut must fire for row 0 alone and only then) and on the general low-frequency and dense
    paths, at both precisions, with and without the level shift.
    Magnitudes reach past the clamp on both sides."""
    import random

    from financedatabase_spark.operators.jpeg import _idct_block

    def block(shape, rnd, m):
        b = [0] * 64
        if shape == "zero":
            return b
        if shape == "rows":
            for v in rnd.sample(range(8), rnd.randint(1, 2)):
                for u in rnd.sample(range(8), rnd.randint(1, 8)):
                    b[v * 8 + u] = rnd.randint(-m // 4, m // 4)
            return b
        b[0] = rnd.randint(-m, m)
        if shape == "row0":
            for u in rnd.sample(range(1, 8), rnd.randint(1, 7)):
                b[u] = rnd.randint(-m // 4, m // 4)
        elif shape == "low":
            for i in (1, 2, 8, 9, 10, 16, 17, 18):
                if rnd.random() < 0.7:
                    b[i] = rnd.randint(-m // 4, m // 4)
        elif shape == "dense":
            for i in range(1, 64):
                if rnd.random() < 0.8:
                    b[i] = rnd.randint(-m // 8, m // 8)
        return b

    rnd = random.Random(20240)
    for shape in ("zero", "dc", "row0", "rows", "low", "dense"):
        for prec in (8, 12):
            m = 1 << (prec + 3)
            for shift in (True, False):
                for _ in range(60 if shape == "zero" else 150):
                    b = block(shape, rnd, m)
                    assert _idct_block(b, prec, shift) == _idct_block_reference(
                        b, prec, shift
                    ), (shape, prec, shift, b)


def test_crop_planes_matches_reference():
    """Crop + replication upsample equals the per-pixel sample-grid map
    for full-width components (sliced rows) and subsampled ones (column
    map), at integer ratios and the fractional 3x1-vs-2x1 ratio, on a
    geometry that crops a padded MCU in both directions."""
    import random

    from financedatabase_spark.operators.jpeg import _crop_planes

    rnd = random.Random(7)
    w, h = 21, 13
    for samplings in (
        [(1, 1)],
        [(1, 1), (1, 1), (1, 1)],
        [(2, 1), (1, 1), (1, 1)],
        [(2, 2), (1, 1), (1, 1)],
        [(1, 2), (1, 1), (1, 1)],
        [(3, 1), (2, 1), (2, 1)],
    ):
        hmax = max(hs for hs, _ in samplings)
        vmax = max(vs for _, vs in samplings)
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))
        planes_raw = [
            [[rnd.randrange(256) for _ in range(mcus_x * hs * 8)]
             for _ in range(mcus_y * vs * 8)]
            for hs, vs in samplings
        ]
        args = (planes_raw, samplings, w, h, hmax, vmax)
        assert _crop_planes(*args) == _crop_planes_reference(*args), samplings


def test_jpeg_decode_unchanged_under_reference_kernels(monkeypatch):
    """Every JPEG process decodes to the same frame with the reference
    IDCT and crop patched in: baseline, progressive, 4:2:0 / 4:2:2 /
    4:4:4 and exotic samplings in all three scan layouts, arithmetic
    (sequential and progressive), 12-bit, hierarchical/differential and
    lossless."""
    from financedatabase_spark.operators import jpeg

    cases = (
        [jpeg.synth_jpeg(d) for d in range(32)]
        + [jpeg.synth_jpeg_color(d, s) for d, s in
           [(1, (2, 2)), (5, (2, 1)), (7, (1, 1)), (9, (1, 2)), (4, (2, 2))]]
        + [jpeg.synth_jpeg_exotic(d) for d in range(20)]
        + [jpeg.synth_jpeg_arith(d) for d in range(16)]
        + [jpeg.synth_jpeg12(d) for d in range(4)]
        + [jpeg.synth_jpeg_hier(d) for d in range(8)]
        + [jpeg.synth_jpeg_lossless(d) for d in range(4)]
        + [jpeg.synth_jpeg_lossless_arith(d) for d in range(4)]
        + [jpeg.synth_jpeg_lossless_rgb(d) for d in range(2)]
    )
    got = [jpeg.jpeg_frame(p) for p in cases]
    monkeypatch.setattr(jpeg, "_idct_block", _idct_block_reference)
    monkeypatch.setattr(jpeg, "_crop_planes", _crop_planes_reference)
    for i, p in enumerate(cases):
        assert jpeg.jpeg_frame(p) == got[i], i


def test_jpeg_lossless_multicomponent_round_trip():
    """3-component lossless with a point transform must round-trip: one
    sequential single-component scan per plane, decoded planes equal
    the reduced-domain synthesis shifted up by Al, for every Al and
    predictor the fixture cycles through. A stream MISSING a component
    scan must still raise (r12's silent-first-plane hazard), and an
    incomplete stream must never return partial planes."""
    import struct

    from financedatabase_spark.operators.jpeg import (
        JPEG_H,
        assemble_jpeg_lossless,
        jpeg_frame,
        jpeg_planes,
        synth_jpeg_lossless_rgb,
    )

    for doc_id in range(9):  # Al 0/1/2 x three widths; predictors 1-7+
        w = 16 + (doc_id % 3) * 8
        al = doc_id % 3
        m = 1 << (12 - al)
        gw, gh, planes, prec = jpeg_frame(synth_jpeg_lossless_rgb(doc_id))
        assert (gw, gh, prec, len(planes)) == (w, JPEG_H, 12, 3)
        for k in range(3):
            assert planes[k] == [
                ((doc_id * 31 + k * 59 + y * 17 + x * 7) % m) << al
                for y in range(JPEG_H)
                for x in range(w)
            ]

    # a stream missing its third scan raises with the missing index
    full = assemble_jpeg_lossless(
        4, 4, [[v % 256 for v in range(16)]] * 3, predictor=1
    )
    third_sos = full.rindex(b"\xff\xda")
    truncated = full[:third_sos] + b"\xff\xd9"
    with pytest.raises(ValueError, match=r"missing scans.*\[2\]"):
        jpeg_planes(truncated)

    # INTERLEAVED lossless (one SOS naming all 3 components, MCU = one
    # sample per component) decodes since r14 — identical planes to the
    # non-interleaved layout, with and without whole-row restarts
    il = assemble_jpeg_lossless(
        4, 4, [[v % 256 for v in range(16)]] * 3, predictor=1, interleaved=True
    )
    assert jpeg_planes(il) == jpeg_planes(full)
    il_rst = assemble_jpeg_lossless(
        4, 4, [[v % 256 for v in range(16)]] * 3, predictor=1,
        interleaved=True, restart_rows=2,
    )
    assert jpeg_planes(il_rst) == jpeg_planes(full)


def test_curation_refresh_requires_checkpoint(spark, tmp_path):
    """The epoch-keyed front sink is only replay-safe with durable epoch
    ids: a checkpoint-less drain must be rejected loudly (review r12 —
    a second drain would restart at epoch 0 and clobber part of the
    accumulation)."""
    from financedatabase_spark.streaming.curation import run_admission_with_refresh

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    with pytest.raises(ValueError, match="checkpoint"):
        run_admission_with_refresh(
            spark, stream, lambda d: d, lambda d: d, str(tmp_path / "work")
        )


def test_jpeg_lossless_arith_round_trip_matrix():
    """SOF11 (lossless, ARITHMETIC coding): encode -> decode must be
    bit-exact across every Annex H predictor, 8/12/16-bit precision,
    point transforms, both scan layouts, restart intervals, 1 vs 3
    planes, and both DAC conditioning bounds — the QM-coder statistics
    (shared bank per table id), the (Da, Db) context model, and the
    per-interval resets all round-trip or pixels diverge."""
    import itertools

    from financedatabase_spark.operators.jpeg import (
        assemble_jpeg_lossless,
        jpeg_frame,
    )

    cases = itertools.product(
        range(1, 8), (8, 16), (0, 2), (False, True), (0, 4), (1, 3),
        ((0, 1), (1, 3)),
    )
    for pred, prec, al, interleaved, rst, nplanes, cond in cases:
        w, h = 9, 12
        prec_r = prec - al
        planes = [
            [
                (31 * p + 17 * y + 7 * x + 13 * x * y) % (1 << prec_r)
                for y in range(h)
                for x in range(w)
            ]
            for p in range(nplanes)
        ]
        jpg = assemble_jpeg_lossless(
            w, h, planes if nplanes == 3 else planes[0], pred, prec, al,
            interleaved=interleaved, restart_rows=rst, arith=True, cond=cond,
        )
        W, H, got, P = jpeg_frame(jpg)
        assert (W, H, P) == (w, h, prec)
        for p in range(nplanes):
            assert got[p] == [v << al for v in planes[p]], (
                pred, prec, al, interleaved, rst, nplanes, cond, p,
            )


def test_jpeg_lossless_arith_extreme_diffs():
    """The mod-2^16 difference edge: 16-bit samples alternating across
    the full range force coded differences at +-32767/32768, walking
    the magnitude ladder to X15 in BOTH Table H.2 ladder sets (the
    second set engages once Db classifies large)."""
    from financedatabase_spark.operators.jpeg import (
        assemble_jpeg_lossless,
        jpeg_frame,
    )

    w = h = 8
    vals = [0, 65535, 32768, 1, 65534, 32767, 2, 40000]
    plane = [vals[(x + y) % 8] for y in range(h) for x in range(w)]
    for pred in range(1, 8):
        jpg = assemble_jpeg_lossless(w, h, plane, pred, 16, 0, arith=True)
        assert jpeg_frame(jpg)[2][0] == plane, pred


def test_jpeg_lossless_arith_fixture_matches_formula():
    """synth_jpeg_lossless_arith decodes to its formula << Al for every
    variant class in one predictor/layout/restart/conditioning cycle —
    the invariant the registered oracle relies on."""
    from financedatabase_spark.operators.jpeg import (
        jpeg_frame,
        synth_jpeg_lossless_arith,
    )

    for doc_id in range(22):
        w = 16 + (doc_id % 3) * 8
        al = doc_id % 3
        m = 1 << (12 - al)
        nplanes = 3 if doc_id % 2 else 1
        W, H, planes, prec = jpeg_frame(synth_jpeg_lossless_arith(doc_id))
        assert (W, H, prec) == (w, 16, 12)
        assert len(planes) == nplanes
        for k in range(nplanes):
            assert planes[k] == [
                ((doc_id * 31 + k * 97 + y * 17 + x * 7 + 3 * x * y) % m) << al
                for y in range(16)
                for x in range(w)
            ], (doc_id, k)


def test_jpeg_lossless_arith_validation():
    """SOF11 malformed-stream posture: duplicate component ids in one
    scan, statistics-bank table ids outside 0-3, and corrupt entropy
    data that lands samples past the declared precision all raise."""
    from financedatabase_spark.operators.jpeg import (
        assemble_jpeg_lossless,
        jpeg_frame,
        synth_jpeg_lossless_arith,
    )

    jpg = bytearray(synth_jpeg_lossless_arith(1))  # 3-plane interleaved
    sos = jpg.find(b"\xff\xda")
    body = sos + 4
    assert jpg[body] == 3 and jpg[body + 3] == 2
    dup = bytes(jpg[:body + 3]) + b"\x01" + bytes(jpg[body + 4:])
    with pytest.raises(ValueError, match="twice"):
        jpeg_frame(dup)
    badtd = bytes(jpg[:body + 2]) + b"\x40" + bytes(jpg[body + 3:])
    with pytest.raises(ValueError, match="0-3"):
        jpeg_frame(badtd)

    plain = assemble_jpeg_lossless(
        16, 16, [(7 * i) % 256 for i in range(256)], 1, 8, arith=True,
    )
    sos = plain.find(b"\xff\xda")
    n_loud = 0
    for off in range(sos + 20, min(sos + 40, len(plain) - 2)):
        corrupt = plain[:off] + bytes([plain[off] ^ 0x55]) + plain[off + 1:]
        try:
            jpeg_frame(corrupt)
        except (ValueError, NotImplementedError):
            n_loud += 1
    assert n_loud >= 10  # most byte flips must be caught by the guards


def test_adpcm_stereo_round_trip():
    """Stereo IMA ADPCM (WAV tag 0x11, ch=2): the per-channel headers
    seed independent state machines and the 4-byte data words alternate
    channels — deinterleaving the decoded frames must reproduce each
    channel's independent mono walk exactly."""
    from financedatabase_spark.operators.multimodal import (
        _parse_nonpcm_wav,
        ima_adpcm_step,
        synth_wav_adpcm_stereo,
    )

    for doc in range(16):
        samples, n, ch = _parse_nonpcm_wav(synth_wav_adpcm_stereo(doc))
        spb = 129 + 16 * (doc % 8)
        assert (n, ch) == (spb, 2)
        for c in range(2):
            pred = (doc * 7919 + c * 104729) % 65536 - 32768
            idx = (doc + c * 37) % 89
            exp = [pred]
            for j in range(spb - 1):
                pred, idx = ima_adpcm_step(pred, idx, (doc * 7 + c * 3 + j * 13) % 16)
                exp.append(pred)
            assert samples[c::2] == exp, (doc, c)


def test_msadpcm_stereo_round_trip():
    """Stereo MS ADPCM (WAV tag 2, ch=2): the FIELD-interleaved header
    runs the channels on different coefficient pairs, and the HIGH-first
    nibbles alternate channels — each channel's second-order predictor
    walk must come back exactly from the even/odd nibble subsequences."""
    from financedatabase_spark.operators.multimodal import (
        MS_ADAPT,
        MS_COEFS,
        _parse_nonpcm_wav,
        _trunc_div256,
        synth_wav_msadpcm_stereo,
    )

    for doc in range(16):
        samples, n, ch = _parse_nonpcm_wav(synth_wav_msadpcm_stereo(doc))
        spb = 62 + doc % 40
        assert (n, ch) == (spb, 2)
        st = []
        for c in range(2):
            st.append({
                "cf": MS_COEFS[(doc + c) % 7],
                "d": 16 + (doc * 31 + c * 97) % 4000,
                "s1": (doc * 7919 + c * 31) % 65536 - 32768,
                "s2": (doc * 104729 + c * 59) % 65536 - 32768,
            })
        exp = [[st[0]["s2"], st[0]["s1"]], [st[1]["s2"], st[1]["s1"]]]
        for g in range(2 * (spb - 2)):
            c = g % 2
            x = (doc * 11 + g * 5) % 64
            code = x if x < 16 else x % 4
            s = st[c]
            base = _trunc_div256(s["s1"] * s["cf"][0] + s["s2"] * s["cf"][1])
            signed = code - 16 if code >= 8 else code
            pred = max(-32768, min(32767, base + signed * s["d"]))
            exp[c].append(pred)
            s["s2"], s["s1"] = s["s1"], pred
            s["d"] = max(16, (MS_ADAPT[code] * s["d"]) >> 8)
        for c in range(2):
            assert samples[c::2] == exp[c], (doc, c)


def test_adpcm_stereo_validation():
    """Stereo ADPCM malformed-stream posture: a block tail shorter than
    the per-channel headers, a mid-word truncation, and >2 channels all
    raise loudly instead of dropping samples."""
    import struct

    from financedatabase_spark.operators.multimodal import (
        _decode_ima_adpcm,
        _decode_ms_adpcm,
        _parse_nonpcm_wav,
        MS_COEFS,
        synth_wav_adpcm_stereo,
    )

    with pytest.raises(ValueError, match="header"):
        _decode_ima_adpcm(b"\x00" * 6, 6, 9, 2)  # < 8-byte stereo header
    hdr = struct.pack("<hBBhBB", 0, 0, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="word"):
        _decode_ima_adpcm(hdr + b"\x00" * 3, 11, 9, 2)  # 3-byte word tail
    with pytest.raises(ValueError, match="header"):
        _decode_ms_adpcm(b"\x00" * 10, 10, 4, MS_COEFS, 2)

    raw = bytearray(synth_wav_adpcm_stereo(3))
    fmt_off = raw.find(b"fmt ") + 8
    struct.pack_into("<H", raw, fmt_off + 2, 3)  # nChannels = 3
    with pytest.raises(NotImplementedError, match="channels"):
        _parse_nonpcm_wav(bytes(raw))


def test_avi_dib_variants_decode():
    """The non-24-bit DIB formats: 8-bit palettized, 32-bit BI_RGB
    (reserved byte skipped), BI_RLE8, and nibble-packed BI_RLE4 frames
    all decode to the fixture formula's windowed pixel sums."""
    from financedatabase_spark.operators.multimodal import (
        avi_decode,
        synth_avi_dib,
    )

    def psum(doc, i):
        return (
            (doc * 7 + i * 3) % 256
            + (doc * 11 + i * 5) % 256
            + (doc * 13 + i * 7) % 256
        )

    for doc in range(12):
        n = 8 + doc % 5
        v = doc % 4
        exp = [0.0] * 8
        for f in range(n):
            s = 0
            for r in range(16):
                for x in range(16):
                    if v == 0:
                        s += psum(doc, (doc * 31 + f * 97 + r * 13 + x * 7) % 256)
                    elif v == 1:
                        s += sum(
                            (doc * 31 + f * 97 + r * 13 + x * 7 + c * 5) % 256
                            for c in range(3)
                        )
                    else:
                        m = 256 if v == 2 else 16
                        idx = 0 if (r == 5 and x < 4) else (
                            doc * 31 + f * 97 + r * 13 + (x // 4) * 7
                        ) % m
                        s += psum(doc, idx)
            exp[f * 8 // n] += s
        assert avi_decode(synth_avi_dib(doc)) == exp, doc


def test_rle8_escapes_and_validation():
    """_decode_rle8 walks encoded runs, absolute runs (word-padded),
    end-of-line, delta (zero-filled skip), end-of-bitmap — and raises
    on truncated pairs, raster overruns, and a missing end escape."""
    from financedatabase_spark.operators.multimodal import _decode_rle8

    # 4x3: row0 = encoded 4x7; row1 = absolute [1,2,3] (padded) + run 1x9;
    # row2 = delta (2,0) then run 2x5
    stream = bytes(
        (4, 7, 0, 0,
         0, 3, 1, 2, 3, 0, 1, 9, 0, 0,
         0, 2, 2, 0, 2, 5, 0, 0,
         0, 1)
    )
    out = _decode_rle8(stream, 4, 3)
    assert list(out[0:4]) == [7, 7, 7, 7]
    assert list(out[4:8]) == [1, 2, 3, 9]
    assert list(out[8:12]) == [0, 0, 5, 5]  # delta skip zero-fills

    with pytest.raises(ValueError, match="truncated"):
        _decode_rle8(bytes((4,)), 4, 3)
    with pytest.raises(ValueError, match="overruns"):
        _decode_rle8(bytes((5, 7, 0, 1)), 4, 3)
    with pytest.raises(ValueError, match="overruns"):
        _decode_rle8(bytes((0, 4, 1, 2, 3, 4, 4, 9, 0, 1)), 4, 3)
    with pytest.raises(ValueError, match="end-of-bitmap"):
        _decode_rle8(bytes((4, 7, 0, 0)), 4, 3)
    with pytest.raises(ValueError, match="delta"):
        _decode_rle8(bytes((0, 2, 9, 9, 0, 1)), 4, 3)


def test_avi_dib_validation():
    """Malformed non-24-bit containers stay loud: a truncated palette,
    RLE8 without a palette, and unsupported bitcounts raise."""
    import struct

    from financedatabase_spark.operators.multimodal import (
        avi_decode,
        synth_avi_dib,
    )

    raw = bytearray(synth_avi_dib(0))  # 8-bit palettized
    strf_off = raw.find(b"strf")
    # biClrUsed = 300 > palette actually present -> truncated palette
    struct.pack_into("<I", raw, strf_off + 8 + 32, 300)
    with pytest.raises(ValueError, match="palette truncated"):
        avi_decode(bytes(raw))

    raw = bytearray(synth_avi_dib(0))
    struct.pack_into("<H", raw, strf_off + 8 + 14, 4)  # biBitCount = 4
    with pytest.raises(NotImplementedError, match="bitcount"):
        avi_decode(bytes(raw))


def test_jpeg_hierarchical_fixture_matches_formula():
    """Annex J hierarchical decode: all four fixture variants — DCT+DCT
    Huffman, DCT+DCT arithmetic, lossless-base+DCT (pinning the EXP
    interpolation), and DCT+lossless refinement — reconstruct their
    per-variant formulas exactly."""
    from financedatabase_spark.operators.jpeg import (
        _exp2x,
        jpeg_frame,
        synth_jpeg_hier,
    )

    for doc in range(24):
        v = doc % 4
        w = 16 + (doc % 3) * 8
        W, H, planes, prec = jpeg_frame(synth_jpeg_hier(doc))
        assert (W, H, prec) == (w, 16, 8)
        if v in (0, 1):
            base_val = 60 + (doc * 29) % 128
            nbx = w // 8
            d = [(doc * 13 + b * 7) % 101 - 50 for b in range(nbx * 2)]
            exp = [
                base_val + d[(y // 8) * nbx + x // 8]
                for y in range(16)
                for x in range(w)
            ]
        elif v == 2:
            wb, hb = w // 2, 8
            base = [
                30 + (doc * 31 + y * 17 + x * 7) % 196
                for y in range(hb)
                for x in range(wb)
            ]
            up, _, _ = _exp2x(base, wb, hb, 1, 1)
            nbx = w // 8
            d = [(doc * 13 + b * 7) % 61 - 30 for b in range(nbx * 2)]
            exp = [
                up[y * w + x] + d[(y // 8) * nbx + x // 8]
                for y in range(16)
                for x in range(w)
            ]
        else:
            exp = [(doc * 31 + y * 17 + x * 7) % 256 for y in range(16) for x in range(w)]
        assert planes[0] == exp, (doc, v)


def test_jpeg_hierarchical_progressive_differential():
    """SOF6 (differential progressive): a hand-built pyramid — constant
    DCT base, EXP, then a progressive differential frame carrying only
    a DC-first scan — must add the per-block diffs without any level
    shift. This closes the last SOF pair through the same translation
    path (SOF14 rides the arithmetic machinery the same way)."""
    import struct

    from financedatabase_spark.operators.jpeg import (
        AC_BITS,
        AC_VALS,
        DC_BITS,
        DC_VALS,
        _DC_ENC,
        _AC_ENC,
        _HuffCoder,
        _scan,
        _segments,
        _sos,
        jpeg_frame,
    )

    w = h = 16
    base_val, diffs = 100, [-9, 5, 30, -17]  # 2x2 full-res blocks
    out = bytearray(b"\xff\xd8")
    out += _segments(
        (0xDE, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])),
        (0xDB, bytes([0x00]) + bytes([8] * 64)),
        (0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)),
        (0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)),
    )
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    out += _segments((0xC0, sof), (0xDA, _sos([(1, 0, 0)], 0, 63, 0, 0)))
    coder = _HuffCoder(1, _DC_ENC, _AC_ENC)
    out += _scan(coder, coder.sequential, [(0, [base_val - 128] + [0] * 63)], 0)
    out += _segments((0xDF, bytes([0x11])))  # EXP 2x2
    sof6 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    # DC-first progressive scan; qt0=8 scales
    out += _segments((0xC6, sof6), (0xDA, _sos([(1, 0, 0)], 0, 0, 0, 0)))
    coder = _HuffCoder(1, _DC_ENC)
    out += _scan(coder, coder.dc_first, [(0, [d] + [0] * 63) for d in diffs], 0)
    out += b"\xff\xd9"
    W, H, planes, prec = jpeg_frame(bytes(out))
    assert (W, H, prec) == (w, h, 8)
    exp = [
        base_val + diffs[(y // 8) * 2 + x // 8] for y in range(h) for x in range(w)
    ]
    assert planes[0] == exp


def test_jpeg_hierarchical_validation():
    """Annex J malformed-sequence posture: a differential frame before
    any reference, EXP before any frame, duplicate DHP, a frame before
    DHP, a non-differential re-code, and a geometry that never reaches
    the DHP dims all raise."""
    import struct

    from financedatabase_spark.operators.jpeg import (
        jpeg_frame,
        synth_jpeg_hier,
    )

    good = bytearray(synth_jpeg_hier(0))  # SOF0 base + SOF5 diff

    dhp_at = good.find(b"\xff\xde")
    sof0_at = good.find(b"\xff\xc0")
    sof5_at = good.find(b"\xff\xc5")
    exp_at = good.find(b"\xff\xdf")
    assert -1 not in (dhp_at, sof0_at, sof5_at, exp_at)

    # differential frame with no reference: strip base frame + EXP
    no_base = bytes(good[:sof0_at]) + bytes(good[sof5_at:])
    with pytest.raises(ValueError, match="no[\\s-]*reference"):
        jpeg_frame(no_base)

    # EXP before any frame
    exp_seg = bytes(good[exp_at:exp_at + 5])
    early_exp = bytes(good[:sof0_at]) + exp_seg + bytes(good[sof0_at:])
    with pytest.raises(ValueError, match="EXP before"):
        jpeg_frame(early_exp)

    # duplicate DHP
    dhp_seg = bytes(good[dhp_at:dhp_at + 4 + struct.unpack_from(">H", good, dhp_at + 2)[0] - 2])
    dup = bytes(good[:sof0_at]) + dhp_seg + bytes(good[sof0_at:])
    with pytest.raises(ValueError, match="DHP twice"):
        jpeg_frame(dup)

    # non-differential frame re-coding the component
    base_span = bytes(good[sof0_at:exp_at])
    recode = bytes(good[:exp_at]) + base_span + bytes(good[exp_at:])
    with pytest.raises(ValueError, match="re-codes"):
        jpeg_frame(recode)

    # geometry never reaches the DHP dims: drop EXP + differential frame
    stub = bytes(good[:exp_at]) + b"\xff\xd9"
    with pytest.raises(ValueError, match="DHP declares"):
        jpeg_frame(stub)


def test_jpeg_fill_bytes_before_every_marker():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes. One
    or two of them before every marker of one fixture per family —
    table, frame, scan, DRI, EXP and EOI markers alike — leave the
    decoded planes unchanged."""
    from financedatabase_spark.operators import jpeg

    def marker_positions(raw):
        pos, out = 2, []
        while True:
            out.append(pos)
            marker = raw[pos + 1]
            if marker == 0xD9:
                return out
            pos += 2 + int.from_bytes(raw[pos + 2:pos + 4], "big")
            if marker == 0xDA:  # skip entropy data: stuffing and RSTn
                while raw[pos] != 0xFF or raw[pos + 1] == 0 or 0xD0 <= raw[pos + 1] <= 0xD7:
                    pos += 1

    fixtures = [
        jpeg.synth_jpeg(0),  # gray baseline with DRI/RSTn
        jpeg.synth_jpeg(5),  # 4:2:2 with a restart every MCU
        jpeg.synth_jpeg_progressive(5),  # color SOF2, DRI set then cleared
        jpeg.synth_jpeg_arith(1),  # SOF9 color with restarts
        jpeg.synth_jpeg_arith(4),  # SOF10 gray
        jpeg.synth_jpeg_lossless(0),
        jpeg.synth_jpeg_lossless_rgb(1),  # three scans with restarts
        jpeg.synth_jpeg_lossless_arith(5),  # SOF11 with restarts
    ] + [jpeg.synth_jpeg_hier(d) for d in range(4)]
    for i, raw in enumerate(fixtures):
        want = jpeg.jpeg_frame(raw)
        positions = marker_positions(raw)
        assert len(positions) >= 4, i
        for at in positions:
            for fill in (b"\xff", b"\xff\xff"):
                assert jpeg.jpeg_frame(raw[:at] + fill + raw[at:]) == want, (i, at, fill)


def _jpeg_fixture_families():
    """name -> zero-argument producers of every encoder output the
    registered queries and the codec tests consume: each fixture family
    over a doc-id range, plus the direct assembler calls of this module
    (16-bit DQT, SOF1, 12-bit, lossless at 2-16 bits, point transform,
    interleaved lossless with restarts, arithmetic lossless under both
    DAC conditionings)."""
    import itertools

    import numpy as np

    from financedatabase_spark.operators import jpeg
    from financedatabase_spark.operators.multimodal import synth_avi_mjpeg

    def gray_blocks(d, w):
        return [
            jpeg._y_block_zz(d, bx, by) for by in range(2) for bx in range(w // 8)
        ]

    color_layouts = [
        ((2, 2), {}), ((2, 1), {}), ((1, 2), {}), ((1, 1), {}),
        ((1, 1), {"multiscan": True}), ((2, 2), {"multiscan": True}),
        ((2, 2), {"partial": True}), ((2, 1), {"partial": True}),
        ((3, 1), {"chroma_sampling": (2, 1)}),
        ((3, 1), {"chroma_sampling": (2, 1), "multiscan": True}),
        ((3, 1), {"chroma_sampling": (2, 1), "partial": True}),
        ((4, 2), {}), ((4, 4), {"multiscan": True}),
    ]
    fam = {
        "synth_jpeg": [lambda d=d: jpeg.synth_jpeg(d) for d in range(5000)],
        "synth_avi_mjpeg": [lambda d=d: synth_avi_mjpeg(d) for d in range(64)],
        "synth_jpeg_color": [
            lambda d=d, s=s, kw=kw: jpeg.synth_jpeg_color(d, s, **kw)
            for d in range(200) for s, kw in color_layouts
        ],
        "synth_jpeg_lossless": [
            lambda d=d, p=p: jpeg.synth_jpeg_lossless(d, p)
            for d in range(200) for p in (2, 8, 12, 16)
        ],
    }
    for name in (
        "synth_jpeg_420", "synth_jpeg_progressive", "synth_jpeg_exotic",
        "synth_jpeg_arith", "synth_jpeg12", "synth_jpeg_hier",
        "synth_jpeg_lossless_arith", "synth_jpeg_lossless_rgb",
    ):
        fn = getattr(jpeg, name)
        fam[name] = [lambda d=d, fn=fn: fn(d) for d in range(200)]

    direct = []
    rng = np.random.RandomState(7)
    rnd = [list(map(int, rng.randint(-40, 41, 64))) for _ in range(3)]
    zrl = [0] * 64
    zrl[0], zrl[40], zrl[63] = 5, -3, 9
    direct.append(lambda: jpeg.assemble_jpeg(32, 8, [1] * 64, rnd + [zrl]))
    for d in range(48):
        w = 16 + (d % 3) * 8
        for ri, q16, sof1 in itertools.product((0, 3), (False, True), (False, True)):
            direct.append(lambda d=d, w=w, ri=ri, q16=q16, sof1=sof1: jpeg.assemble_jpeg(
                w, 16, jpeg._FIXTURE_QT, gray_blocks(d, w), restart_interval=ri,
                qt_16bit=q16, sof1=sof1,
            ))
        for ri in (0, 2, 3):
            direct.append(lambda d=d, w=w, ri=ri: jpeg.assemble_jpeg_progressive(
                w, 16, jpeg._FIXTURE_QT, gray_blocks(d, w), dc_restart_interval=ri,
                arith=True,
            ))
    deep = []
    for b in range(6):
        bz = [0] * 64
        bz[0] = (b * 611) % 3000 - 1500
        bz[14] = b % 5 - 2
        deep.append(bz)
    direct.append(lambda: jpeg.assemble_jpeg_progressive(24, 16, jpeg._FIXTURE_QT, deep, arith=True))
    direct.append(lambda: jpeg.assemble_jpeg_lossless(4, 4, [0] * 16, predictor=1, prec=16))
    rgb = [[v % 256 for v in range(16)]] * 3
    for il, rst in ((False, 0), (True, 0), (True, 2)):
        direct.append(lambda il=il, rst=rst: jpeg.assemble_jpeg_lossless(
            4, 4, rgb, predictor=1, interleaved=il, restart_rows=rst,
        ))
    for pred, prec, al, il, rst, npl, cond, ar in itertools.product(
        range(1, 8), (2, 8, 16), (0, 1), (False, True), (0, 4), (1, 3),
        ((0, 1), (1, 3)), (False, True),
    ):
        if (prec <= al) or (cond != (0, 1) and not ar):
            continue
        planes = [
            [(31 * p + 17 * y + 7 * x + 13 * x * y) % (1 << (prec - al))
             for y in range(12) for x in range(9)]
            for p in range(npl)
        ]
        direct.append(lambda pred=pred, prec=prec, al=al, il=il, rst=rst, planes=planes,
                      cond=cond, ar=ar: jpeg.assemble_jpeg_lossless(
            9, 12, planes if len(planes) == 3 else planes[0], pred, prec, al,
            interleaved=il, restart_rows=rst, arith=ar, cond=cond,
        ))
    vals = [0, 65535, 32768, 1, 65534, 32767, 2, 40000]
    extreme = [vals[(x + y) % 8] for y in range(8) for x in range(8)]
    for pred in range(1, 8):
        for ar in (False, True):
            direct.append(lambda pred=pred, ar=ar: jpeg.assemble_jpeg_lossless(
                8, 8, extreme, pred, 16, 0, arith=ar,
            ))
    fam["direct_assembler_calls"] = direct
    return fam


#: sha256 over each family's payloads, each prefixed by its 4-byte
#: big-endian length, in producer order
_JPEG_FIXTURE_DIGESTS = {
    "synth_jpeg": "aa948473b7310b45a68506bfaf379ab06e44ad6c509c602ade834218f8170938",
    "synth_avi_mjpeg": "4e5543cb9bee1419ef365b1f48f90f59b64ed0fc8fd6ff91c831b626b02a1625",
    "synth_jpeg_color": "2cc6f7f8e2c1ebf2cb85331c2971a0135390f7bf2d475f53f0c12684c5f8570f",
    "synth_jpeg_lossless": "c04340570fde3101771992b1913c01581718d8d8475d305d6316815cae0ef2d5",
    "synth_jpeg_420": "97632e54fc4d4277003a3eda4603c647e832c2bfdd84437a8fc35babdbc9b70e",
    "synth_jpeg_progressive": "f1a0685c5ef6abfdf3c2d8552d1b4eda05fcb62397b09c4c49cc91e77cdced1c",
    "synth_jpeg_exotic": "a37f3c0f51b95c44256fcb01c2a9eb3f0796d00b31b4fab07ec7210301d595a4",
    "synth_jpeg_arith": "3aad00fb721bd567329027e6108a68b7827e1252ac92c9fb185ba4c1ab3d9a06",
    "synth_jpeg12": "f3733eab64a42bd1c472ccc11fc13e8104f90f2b136324527115e19e15984109",
    "synth_jpeg_hier": "ddedffb67cd07912f00c5d0c7c190a2db0dc2e82807e37e3baad22c27f1f2fbe",
    "synth_jpeg_lossless_arith": "b8d5e83761794e5a138bbad5a934a35a2135b31bb082f031bfca879dc5b5bfec",
    "synth_jpeg_lossless_rgb": "3d18326b861d7a2a8daf09a82dfcb58109ff79a641ba33f00f1102aaee64c1fe",
    "direct_assembler_calls": "6b3139964af2a926fa52ad6af8fb54c1bcf83786056f1fc9962b618e4e1b119a",
}


def test_jpeg_fixture_bytes_pinned():
    """Every fixture the encoder writes is pinned byte for byte: the
    DuckDB oracles, the ORACLE_HASHES fingerprints and the perfbench
    digests of the image queries hold only while these bytes do."""
    import hashlib
    import struct

    got = {}
    for name, producers in _jpeg_fixture_families().items():
        h = hashlib.sha256()
        for make in producers:
            p = make()
            h.update(struct.pack(">I", len(p)) + p)
        got[name] = h.hexdigest()
    assert got == _JPEG_FIXTURE_DIGESTS


def test_gif_codec_round_trip():
    """gif_canvas must reproduce the per-variant composited canvas from
    the palette/index formulas: plain 87a, interlaced under a local
    16-color table, transparency over a base frame, and disposal-2
    background restore."""
    from financedatabase_spark.operators.gif import gif_canvas, synth_gif

    def pal(doc, i):
        return ((doc * 7 + i * 3) % 256, (doc * 11 + i * 5) % 256,
                (doc * 13 + i * 7) % 256)

    for doc in range(12):
        v = doc % 4
        w = 16 + (doc % 3) * 8
        W, H, canvas = gif_canvas(synth_gif(doc))
        assert (W, H) == (w, 16)
        exp = []
        for y in range(16):
            for x in range(w):
                b = (doc * 31 + y * 17 + x * 7) % 256
                inrect = 4 <= x < 12 and 4 <= y < 12
                o = (doc * 5 + (y - 4) * 3 + (x - 4)) % 256 if inrect else 0
                if v == 0:
                    exp.append(pal(doc, b))
                elif v == 1:
                    exp.append(pal(doc, b % 16))
                elif v == 2:
                    exp.append(pal(doc, o) if inrect and o % 5 else pal(doc, b))
                else:
                    exp.append(pal(doc, o) if inrect else pal(doc, doc % 256))
        assert canvas == exp, (doc, v)


def test_gif_lzw_round_trip():
    """LZW encode -> decode is exact across code sizes, including the
    12-bit table growth + encoder CLEAR reset and the KwKwK case."""
    import random

    from financedatabase_spark.operators.gif import _lzw_decode, _lzw_encode

    rnd = random.Random(11)
    for mcs in (2, 4, 8):
        n = 1 << mcs
        for _ in range(10):
            data = [rnd.randrange(n) for _ in range(rnd.randrange(1, 6000))]
            assert _lzw_decode(_lzw_encode(data, mcs), mcs, len(data)) == data
        kwk = [1, 1] + [1] * 500  # immediate KwKwK then long runs
        assert _lzw_decode(_lzw_encode(kwk, mcs), mcs, len(kwk)) == kwk


def test_gif_validation():
    """Malformed GIFs stay loud: bad signature, truncated sub-blocks,
    LZW codes outside the table, pixel-count mismatch, frame rects
    outside the canvas, and a missing trailer."""
    import struct

    from financedatabase_spark.operators.gif import (
        _lzw_decode,
        gif_canvas,
        synth_gif,
    )

    with pytest.raises(ValueError, match="signature"):
        gif_canvas(b"NOTAGIF" + b"\x00" * 20)

    good = bytearray(synth_gif(0))
    with pytest.raises(ValueError, match="trailer"):
        gif_canvas(bytes(good[:-1]))  # drop the 0x3B

    # frame rect outside canvas: patch the image descriptor's left
    # (doc 0 is variant 0: 13-byte header + 768-byte GCT, then 0x2C)
    img_at = 13 + 768
    assert good[img_at] == 0x2C
    bad = bytearray(good)
    struct.pack_into("<H", bad, img_at + 1, 60000)
    with pytest.raises(ValueError, match="outside"):
        gif_canvas(bytes(bad))

    # LZW: a code beyond the table must raise, not wrap
    with pytest.raises(ValueError, match="LZW"):
        _lzw_decode(bytes([0xFF, 0xFF, 0xFF]), 2, 10)

    # pixel-count mismatch: decode claims more pixels than the rect
    from financedatabase_spark.operators.gif import _lzw_encode
    enc = _lzw_encode([1] * 64, 2)
    with pytest.raises(ValueError, match="pixels"):
        _lzw_decode(enc, 2, 63)


def test_rle4_escapes_and_validation():
    """_decode_rle4: encoded runs alternate the pair byte's nibbles,
    absolute runs unpack two indices per byte with word padding, delta
    zero-fills — and truncation/overrun/missing-end all raise."""
    from financedatabase_spark.operators.multimodal import _decode_rle4

    # 6x2: row0 = encoded 5 x 0xAB (A,B,A,B,A) + encoded 1 x 0xC0;
    # row1 = absolute [1,2,3] (2 nibble-packed bytes, already word-even)
    # + delta (1,0) + encoded 2 x 0x77
    stream = bytes(
        (5, 0xAB, 1, 0xC0, 0, 0,
         0, 3, 0x12, 0x30, 0, 2, 1, 0, 2, 0x77, 0, 0,
         0, 1)
    )
    out = _decode_rle4(stream, 6, 2)
    assert list(out[0:6]) == [0xA, 0xB, 0xA, 0xB, 0xA, 0xC]
    assert list(out[6:12]) == [1, 2, 3, 0, 7, 7]  # delta skip zero-fills

    with pytest.raises(ValueError, match="truncated"):
        _decode_rle4(bytes((5,)), 6, 2)
    with pytest.raises(ValueError, match="overruns"):
        _decode_rle4(bytes((7, 0xAB, 0, 1)), 6, 2)
    with pytest.raises(ValueError, match="end-of-bitmap"):
        _decode_rle4(bytes((2, 0xAB, 0, 0)), 6, 2)


def test_tiff_codec_round_trip():
    """tiff_pixels must reproduce the per-variant RGB from the fixture
    formulas: LE uncompressed gray, BE PackBits WhiteIsZero (multi-
    strip), LE LZW RGB with predictor 2, BE palette via ColorMap."""
    from financedatabase_spark.operators.tiff import synth_tiff, tiff_pixels

    for doc in range(12):
        v = doc % 4
        w = 16 + (doc % 3) * 8
        W, H, px = tiff_pixels(synth_tiff(doc))
        assert (W, H) == (w, 16)
        exp = []
        for y in range(16):
            for x in range(w):
                g = (doc * 31 + y * 17 + x * 7) % 256
                if v == 0:
                    exp.append((g, g, g))
                elif v == 1:
                    exp.append((255 - g, 255 - g, 255 - g))
                elif v == 2:
                    exp.append((g, (g + 5) % 256, (g + 10) % 256))
                else:
                    i = g % 16
                    exp.append((
                        (doc * 7 + i * 11) % 256,
                        (doc * 7 + i * 13) % 256,
                        (doc * 7 + i * 17) % 256,
                    ))
        assert px == exp, (doc, v)


def test_tiff_lzw_early_change():
    """TIFF LZW differs from GIF's in MSB-first packing and the EARLY
    width change (encoder at 2^n - 1 entries, decoder one sooner):
    round-trips must hold across the 9->12-bit ladder and the CLEAR
    reset, including low-entropy runs that grow long chains."""
    import random

    from financedatabase_spark.operators.tiff import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    rnd = random.Random(13)
    for _ in range(8):
        data = bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 6000)))
        assert _lzw_decode_tiff(_lzw_encode_tiff(data), len(data)) == data
    low = bytes(rnd.randrange(4) for _ in range(20000))
    assert _lzw_decode_tiff(_lzw_encode_tiff(low), len(low)) == low


def test_tiff_validation():
    """Malformed/out-of-scope TIFFs stay loud: bad byte-order mark or
    magic, missing mandatory tags, truncated strips, unsupported
    compressions and photometrics, strip undercoverage."""
    import struct

    from financedatabase_spark.operators.tiff import synth_tiff, tiff_pixels

    with pytest.raises(ValueError, match="byte-order"):
        tiff_pixels(b"XX\x2a\x00" + b"\x00" * 8)
    with pytest.raises(ValueError, match="magic"):
        tiff_pixels(b"II\x2b\x00" + b"\x00" * 8)

    good = bytearray(synth_tiff(0))  # LE uncompressed gray
    # find the Compression entry (tag 259) and claim CCITT (3)
    (n,) = struct.unpack_from("<H", good, 8)
    for i in range(n):
        off = 10 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", good, off)
        if tag == 259:
            struct.pack_into("<H", good, off + 8, 3)
            break
    with pytest.raises(NotImplementedError, match="compression 3"):
        tiff_pixels(bytes(good))

    good = bytearray(synth_tiff(0))
    for i in range(n):
        off = 10 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", good, off)
        if tag == 262:  # photometric -> YCbCr (6)
            struct.pack_into("<H", good, off + 8, 6)
            break
    with pytest.raises(NotImplementedError, match="photometric 6"):
        tiff_pixels(bytes(good))

    # truncated strip data
    with pytest.raises(ValueError):
        tiff_pixels(bytes(synth_tiff(0))[:-40])


def test_webp_codec_round_trip():
    """VP8L decode must reproduce each fixture variant's formula:
    literal full prefix codes, LZ77 row copies, color cache,
    subtract-green, every predictor mode 0-13, the color transform,
    color indexing at 4-bit and 1-bit bundling, and meta-prefix
    groups."""
    from financedatabase_spark.operators.webp import synth_webp, webp_pixels

    def base(doc, y, x):
        t = doc * 31 + y * 17 + x * 7
        return (t % 256, (t + 5) % 256, (t + 10) % 256)

    for doc in range(54):
        v = doc % 9
        w = 16 + (doc % 3) * 8
        W, H, px = webp_pixels(synth_webp(doc))
        assert (W, H) == (w, 16)
        exp = []
        for y in range(16):
            for x in range(w):
                if v == 1:
                    exp.append(base(doc, y % 2, x))
                elif v in (2, 6):
                    i = (doc * 31 + y * 17 + x * 7) % 16
                    exp.append(base(doc, i // 4, i % 4))
                elif v == 7:
                    i = (doc * 31 + y * 17 + x * 7) % 2
                    exp.append(base(doc, i, i))
                else:
                    exp.append(base(doc, y, x))
        assert px == exp, (doc, v)


def test_webp_predictor_modes_exact():
    """Every predictor mode round-trips on data hostile to it: random
    pixels make residuals exercise the clamps, averages, and the
    select tie-break."""
    import random

    from financedatabase_spark.operators.webp import assemble_webp, webp_pixels

    rnd = random.Random(5)
    for mode in range(14):
        w, h = 9, 7
        px = [
            0xFF000000
            | (rnd.randrange(256) << 16)
            | (rnd.randrange(256) << 8)
            | rnd.randrange(256)
            for _ in range(w * h)
        ]
        W, H, got = webp_pixels(assemble_webp(w, h, px, predictor_mode=mode))
        exp = [((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF) for p in px]
        assert got == exp, mode


def test_webp_validation():
    """Malformed/out-of-scope WebP stays loud: bad container, missing
    VP8L chunk, lossy VP8, bad signature/version, and truncation — a
    color transform now DECODES, so the half-written one here fails
    as truncation, not as a gate."""
    from financedatabase_spark.operators.webp import (
        _LsbWriter,
        synth_webp,
        webp_pixels,
    )
    import struct

    with pytest.raises(ValueError, match="RIFF/WEBP"):
        webp_pixels(b"not webp at all")
    with pytest.raises(ValueError, match="VP8L"):
        webp_pixels(b"RIFF" + struct.pack("<I", 4) + b"WEBP")
    lossy = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
             + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(NotImplementedError, match="lossy"):
        webp_pixels(lossy)

    good = bytearray(synth_webp(0))
    with pytest.raises(ValueError, match="truncated"):
        webp_pixels(bytes(good[:-8]))
    sig_at = good.find(b"VP8L") + 8
    bad = bytearray(good)
    bad[sig_at] = 0x2E
    with pytest.raises(ValueError, match="signature"):
        webp_pixels(bytes(bad))

    # a COLOR transform signaled and then cut off is a truncation error
    w = _LsbWriter()
    w.write(15, 14)  # 16x...
    w.write(15, 14)
    w.write(0, 1)
    w.write(0, 3)
    w.write(1, 1)  # transform present
    w.write(1, 2)  # color transform
    payload = b"\x2f" + w.tobytes()
    stream = (b"RIFF" + struct.pack("<I", 12 + len(payload)) + b"WEBP"
              + b"VP8L" + struct.pack("<I", len(payload)) + payload)
    with pytest.raises(ValueError, match="truncated"):
        webp_pixels(stream)


def test_webp_color_transform_round_trip():
    """The COLOR transform inverts exactly for CTE values across the
    signed int8 range (negative multipliers exercise the arithmetic
    shift) on pixels hostile to the deltas."""
    import random

    from financedatabase_spark.operators.webp import assemble_webp, webp_pixels

    rnd = random.Random(23)
    w, h = 9, 7
    px = [
        0xFF000000
        | (rnd.randrange(256) << 16)
        | (rnd.randrange(256) << 8)
        | rnd.randrange(256)
        for _ in range(w * h)
    ]
    exp = [((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF) for p in px]
    for cte in [(0, 0, 0), (16, 8, 4), (255, 128, 64), (127, 129, 200)]:
        W, H, got = webp_pixels(assemble_webp(w, h, px, color_cte=cte))
        assert (W, H, got) == (w, h, exp), cte


def test_webp_color_transform_inverse_pinned():
    """Inverse color transform pinned to hand-computed spec values:
    red restores FIRST and the red_to_blue delta uses the RESTORED
    red; all multiplies are int8 x int8 >> 5 arithmetic."""
    from financedatabase_spark.operators.webp import _inverse_color

    # one 32x32 block; CTE: g2r=64 (=+64), g2b=224 (=-32), r2b=32 (=+32)
    cte = 0xFF000000 | (32 << 16) | (224 << 8) | 64
    # pixel: g=80, coded r=10, coded b=20
    px = [0xFF000000 | (10 << 16) | (80 << 8) | 20]
    out = _inverse_color(list(px), 1, 1, 5, 1, [cte])
    # red  = 10 + (64*80  >> 5) = 10 + 160 -> 170
    # blue = 20 + (-32*80 >> 5) + (32*int8(170) >> 5)
    #      = 20 + (-80) + (32*(-86) >> 5) = 20 - 80 - 86 = -146 -> 110
    assert out[0] == 0xFF000000 | (170 << 16) | (80 << 8) | 110


def test_webp_color_indexing_round_trip():
    """The COLOR-INDEXING transform inverts exactly at every bundling
    width (1/2/4/8-bit indices), including non-multiple image widths
    where the last packed byte is partial."""
    import random

    from financedatabase_spark.operators.webp import assemble_webp, webp_pixels

    rnd = random.Random(31)
    for n, w in ((2, 13), (4, 9), (16, 7), (17, 10), (250, 24)):
        pal, seen = [], set()
        while len(pal) < n:
            p = 0xFF000000 | rnd.randrange(1 << 24)
            if p not in seen:
                seen.add(p)
                pal.append(p)
        h = 5
        px = [pal[rnd.randrange(n)] for _ in range(w * h)]
        W, H, got = webp_pixels(assemble_webp(w, h, px, palette=pal))
        exp = [((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF) for p in px]
        assert (W, H, got) == (w, h, exp), (n, w)


def test_webp_color_indexing_out_of_range_index():
    """An index at or past the palette size decodes as 0x00000000 per
    spec, not an error (checked through the packed-pixel helper)."""
    from financedatabase_spark.operators.webp import _inverse_color_indexing

    # 4-bit bundling (width_bits=1), palette of 3: indices 0,1,2 map,
    # index 7 falls outside -> transparent black
    palette = [0xFF111111, 0xFF222222, 0xFF333333]
    packed = [0xFF000000 | (((7 << 4) | 2) << 8)]  # x0 -> 2, x1 -> 7
    out = _inverse_color_indexing(packed, 2, 1, palette, 1)
    assert out == [0xFF333333, 0x00000000]


def test_bmp_codec_round_trip():
    """Standalone BMP decode pins the exact pixels (including the
    bottom-up vs negative-height top-down row order the histogram
    oracle cannot see): 24-bit, palettized top-down, RLE8 with delta
    zero-fill, and 32-bit with the reserved byte skipped."""
    from financedatabase_spark.operators.multimodal import (
        bmp_pixels,
        synth_bmp_file,
    )

    def pal(doc, i):
        return ((doc * 7 + i * 3) % 256, (doc * 11 + i * 5) % 256,
                (doc * 13 + i * 7) % 256)

    for doc in range(12):
        v = doc % 4
        w = 16 + (doc % 3) * 8
        W, H, px = bmp_pixels(synth_bmp_file(doc))
        assert (W, H) == (w, 16)
        exp = []
        for y in range(16):
            for x in range(w):
                g = (doc * 31 + y * 17 + x * 7) % 256
                if v in (0, 3):
                    exp.append((g, (g + 5) % 256, (g + 10) % 256))
                elif v == 1:
                    exp.append(pal(doc, g))
                else:
                    idx = 0 if (y == 5 and x < 4) else (
                        doc * 31 + y * 17 + (x // 4) * 7
                    ) % 256
                    exp.append(pal(doc, idx))
        assert px == exp, (doc, v)


def test_bmp_validation():
    """Malformed standalone BMPs stay loud: bad magic, truncated pixel
    data, unsupported bitcounts, RLE bitcount mismatches, and
    header-class gates."""
    import struct

    from financedatabase_spark.operators.multimodal import (
        bmp_pixels,
        synth_bmp_file,
    )

    with pytest.raises(ValueError, match="BM"):
        bmp_pixels(b"PX not a bmp" + b"\x00" * 60)
    with pytest.raises(ValueError, match="truncated"):
        bmp_pixels(bytes(synth_bmp_file(0))[:-40])

    good = bytearray(synth_bmp_file(0))  # 24-bit
    struct.pack_into("<H", good, 14 + 14, 16)  # biBitCount = 16
    with pytest.raises(NotImplementedError, match="bitcount"):
        bmp_pixels(bytes(good))

    good = bytearray(synth_bmp_file(0))
    struct.pack_into("<I", good, 14 + 16, 1)  # BI_RLE8 on a 24-bit file
    with pytest.raises(ValueError, match="RLE8"):
        bmp_pixels(bytes(good))


def test_ico_codec_round_trip():
    """ICO: the PNG entry routes through png_decode bit-identically;
    the classic-DIB entries honor the doubled height, the bottom-up
    planes, and the AND mask's MSB-first bit order."""
    from financedatabase_spark.operators.multimodal import (
        ico_decode,
        png_decode,
        synth_ico,
        synth_png,
    )

    for doc in range(9):
        v = doc % 3
        feats = ico_decode(synth_ico(doc))
        if v == 0:
            assert feats == png_decode(synth_png(doc))
            continue
        counts = [0] * 8
        for y in range(16):
            for x in range(16):
                if v == 1 and (doc + y + x) % 7 == 0:
                    r = g = b = 0
                else:
                    gv = (doc * 31 + y * 17 + x * 7) % 256
                    if v == 1:
                        r, g, b = (
                            (doc * 7 + gv * 3) % 256,
                            (doc * 11 + gv * 5) % 256,
                            (doc * 13 + gv * 7) % 256,
                        )
                    else:
                        r, g, b = gv, (gv + 5) % 256, (gv + 10) % 256
                counts[((299 * r + 587 * g + 114 * b) // 1000) * 8 >> 8] += 1
        assert feats == [c / 256 for c in counts], (doc, v)


def test_ico_validation():
    """Malformed ICOs stay loud: bad header, image data outside the
    file, undoubled DIB height, geometry mismatch, unsupported
    compression."""
    import struct

    from financedatabase_spark.operators.multimodal import ico_decode, synth_ico

    with pytest.raises(ValueError, match="ICO"):
        ico_decode(b"\x01\x00\x01\x00" + b"\x00" * 30)

    good = bytearray(synth_ico(1))  # 8-bit DIB variant
    bad = bytearray(good)
    struct.pack_into("<I", bad, 6 + 12, 10_000_000)  # offset beyond file
    with pytest.raises(ValueError, match="outside"):
        ico_decode(bytes(bad))

    bad = bytearray(good)
    struct.pack_into("<i", bad, 22 + 8, 17)  # odd biHeight (not doubled)
    with pytest.raises(ValueError, match="doubled"):
        ico_decode(bytes(bad))

    bad = bytearray(good)
    struct.pack_into("<i", bad, 22 + 4, 8)  # width 8 != directory's 16
    with pytest.raises(ValueError, match="geometry"):
        ico_decode(bytes(bad))

    bad = bytearray(good)
    struct.pack_into("<I", bad, 22 + 16, 1)  # BI_RLE8 inside an ICO
    with pytest.raises(NotImplementedError, match="BI_RGB"):
        ico_decode(bytes(bad))


def test_webp_right_edge_tr_pinned_to_spec():
    """RFC 9649 §4.4.2: for pixels on the rightmost column the TR pixel
    is the LEFTMOST pixel of the current row (libwebp's contiguous rows
    read top[x+1] == row[0]). Pinned against hand-computed residual
    sums — NOT the fixture encoder — so an encoder/decoder twin bug
    cannot hide the convention."""
    from financedatabase_spark.operators.webp import _inverse_predictor

    # 2x2, one 512-px block, predictor mode 3 (= TR) everywhere
    w, h, size_bits, tw = 2, 2, 9, 1
    sub = [3 << 8]
    res = [0x00010203, 0x00000000, 0x00101010, 0x00000000]
    img = _inverse_predictor(list(res), w, h, size_bits, tw, sub)
    # (0,0): pred = opaque black -> 0xFF010203
    # (0,1): first row, pred = L -> same pixel
    # (1,0): first column, pred = T -> + 0x101010
    # (1,1): RIGHTMOST column, mode TR: pred = row[0] = img[2] (spec),
    #        NOT the T pixel img[1] the pre-fix decoder used
    assert img[0] == 0xFF010203
    assert img[1] == 0xFF010203
    assert img[2] == 0xFF111213
    assert img[3] == 0xFF111213  # wrong TR convention would give 0xFF010203


def test_gif_last_frame_disposal_not_applied():
    """Real renderers never apply the final frame's disposal — it only
    defines what a frame AFTER it would composite over. A single-frame
    disposal=2 GIF must decode as the frame, not a background field,
    and a trailing disposal=3 frame must stay composited."""
    from financedatabase_spark.operators.gif import assemble_gif, gif_canvas

    pal = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)]
    w = h = 8
    base = [(y * 16 + x) % 256 for y in range(h) for x in range(w)]
    exp_base = [pal[i] for i in base]

    # single frame marked restore-background: canvas is the frame
    raw = assemble_gif(w, h, pal, [{"indices": base, "disposal": 2}], bg=9)
    assert gif_canvas(raw)[2] == exp_base

    # single frame marked restore-previous: likewise the frame
    raw = assemble_gif(w, h, pal, [{"indices": base, "disposal": 3}], bg=9)
    assert gif_canvas(raw)[2] == exp_base

    # two frames: the FIRST frame's disposal=2 still applies between
    # frames (overlay over background field), the second's disposal=2
    # does not
    ov = [(3 + y + x) % 256 for y in range(4) for x in range(4)]
    raw = assemble_gif(
        w, h, pal,
        [
            {"indices": base, "disposal": 2},
            {"indices": ov, "left": 2, "top": 2, "iw": 4, "ih": 4,
             "disposal": 2},
        ],
        bg=9,
    )
    _, _, canvas = gif_canvas(raw)
    for y in range(h):
        for x in range(w):
            if 2 <= x < 6 and 2 <= y < 6:
                assert canvas[y * w + x] == pal[(3 + (y - 2) + (x - 2)) % 256]
            else:
                assert canvas[y * w + x] == pal[9]


def _truncate_last_avi_frame(raw: bytes, cut: int) -> bytes:
    """Shrink the last 00db frame chunk by `cut` bytes, keeping the
    RIFF and movi LIST sizes consistent so only the frame is short."""
    import struct

    out = bytearray(raw[:-cut])
    frame_at = raw.rfind(b"00db")
    movi_at = raw.rfind(b"movi") - 8
    for off in (4, movi_at + 4, frame_at + 4):
        (sz,) = struct.unpack_from("<I", out, off)
        struct.pack_into("<I", out, off, sz - cut)
    return bytes(out)


def test_avi_dib_truncated_frame_raises():
    """A truncated uncompressed DIB frame chunk quarantines with a
    named ValueError in every layout — 24-bit (was a silent under-sum),
    32-bit (was a bare IndexError), and 8-bit palettized."""
    from financedatabase_spark.operators.multimodal import (
        avi_decode,
        synth_avi,
        synth_avi_dib,
    )

    fixtures = [
        synth_avi(3),      # 24-bit
        synth_avi_dib(0),  # 8-bit palettized raw
        synth_avi_dib(1),  # 32-bit BI_RGB
    ]
    for raw in fixtures:
        avi_decode(raw)  # intact fixture decodes
        with pytest.raises(ValueError, match="truncated"):
            avi_decode(_truncate_last_avi_frame(raw, 12))


@pytest.mark.heavy
@pytest.mark.parametrize(
    "codec",
    ["gif", "tiff", "webp", "bmp", "ico"],
)
def test_image_codec_truncation_fuzz(codec):
    """Every byte-boundary truncation of a valid fixture quarantines
    with a NAMED error (ValueError/NotImplementedError) — no silent
    short decode, no bare IndexError/struct.error, no hang. At 100 TB a
    truncated shard must fail loud. The single tolerated success is a
    cut inside trailing container padding (the RIFF odd-size pad byte,
    a TIFF trailing pad), which must still decode to the FULL result.
    """
    from financedatabase_spark.operators.gif import gif_canvas, synth_gif
    from financedatabase_spark.operators.multimodal import (
        bmp_decode,
        ico_decode,
        synth_bmp_file,
        synth_ico,
    )
    from financedatabase_spark.operators.tiff import synth_tiff, tiff_decode
    from financedatabase_spark.operators.webp import synth_webp, webp_pixels

    synth, decode, n_variants = {
        "gif": (synth_gif, gif_canvas, 4),
        "tiff": (synth_tiff, tiff_decode, 4),
        "webp": (synth_webp, webp_pixels, 9),  # every VP8L variant
        "bmp": (synth_bmp_file, bmp_decode, 4),
        "ico": (synth_ico, ico_decode, 4),
    }[codec]

    for doc in range(n_variants):
        raw = synth(doc)
        full = decode(raw)
        for cut in range(len(raw)):
            try:
                got = decode(raw[:cut])
            except (ValueError, NotImplementedError):
                continue
            except Exception as exc:  # bare IndexError/struct.error/...
                pytest.fail(
                    f"{codec} doc={doc} cut={cut}: unnamed "
                    f"{type(exc).__name__}: {exc}"
                )
            assert cut >= len(raw) - 1 and got == full, (
                f"{codec} doc={doc} cut={cut}: silent short decode"
            )


def test_pyav_real_video_decode_probe():
    """Skip-gated REAL-decode probe (pattern: the boto3 importorskip):
    the faked-module contract tests pin the seam's shape; this one runs
    the actual ffmpeg path the day PyAV lands in the container, with no
    round of lag. MJPEG frame sums may differ slightly from the
    stdlib's exact-IDCT decode (libjpeg IDCT variants), so the check is
    shape + closeness, not bit equality."""
    pytest.importorskip("av")
    from financedatabase_spark.operators.multimodal import (
        avi_decode,
        pyav_video_decode,
        synth_avi_mjpeg,
    )

    raw = synth_avi_mjpeg(2)
    got = pyav_video_decode(raw)
    ref = avi_decode(raw)
    assert len(got) == len(ref) == 8
    for g, r in zip(got, ref):
        assert r == 0 or abs(g - r) / r < 0.01, (g, r)


def test_mp3_in_wav_real_decode_probe():
    """Skip-gated probe for the tag-85 (mp3-in-WAV) seam: when PyAV is
    importable the branch decodes real MPEG audio. Encodes a 440 Hz
    sine to mp3 through av, wraps it in a WAV data chunk with format
    tag 85, and checks the decode returns a sine-like signal (loose
    check — mp3 is lossy and adds encoder delay)."""
    av = pytest.importorskip("av")
    import math
    import struct as _struct
    from io import BytesIO

    import numpy as np

    from financedatabase_spark.operators.multimodal import _parse_nonpcm_wav

    rate, n = 44100, 44100
    pcm = np.array(
        [int(20000 * math.sin(2 * math.pi * 440 * i / rate)) for i in range(n)],
        dtype=np.int16,
    )
    buf = BytesIO()
    with av.open(buf, "w", format="mp3") as out:
        stream = out.add_stream("mp3", rate=rate)
        frame = av.AudioFrame.from_ndarray(pcm.reshape(1, -1), format="s16", layout="mono")
        frame.sample_rate = rate
        for packet in stream.encode(frame):
            out.mux(packet)
        for packet in stream.encode(None):
            out.mux(packet)
    mp3 = buf.getvalue()

    fmt = _struct.pack("<HHIIHH", 0x55, 1, rate, 16000, 1, 0)
    wav = (
        b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(mp3)) + b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(mp3)) + mp3
    )
    samples, n_frames, ch = _parse_nonpcm_wav(wav)
    assert ch == 1 and n_frames > rate // 2
    arr = np.asarray(samples, dtype=np.float64)
    # a sine has RMS ~ amplitude/sqrt(2); silence would be ~0
    assert np.sqrt((arr ** 2).mean()) > 0.05 * np.abs(arr).max() > 0
